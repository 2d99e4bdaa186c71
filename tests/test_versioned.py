"""VersionedTable: atomic commits, snapshot isolation, time travel.

The transactional-MERGE analog of the reference's warehouse MERGE
(dbt snapshot / BigQuery MERGE) — see sources/versioned.py.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from glamira_batch_processing_spark.sources.versioned import (
    VersionConflictError,
    VersionedTable,
)


def _rows(df):
    return {(r.k, r.v) for r in df.collect()}


def test_create_read_merge_time_travel(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert t.create(base) == 0
    assert _rows(t.read(spark)) == {(1, "a"), (2, "b")}

    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    assert t.merge(spark, upd, keys=["k"]) == 1
    # WHEN MATCHED UPDATE (2), WHEN NOT MATCHED INSERT (3), untouched (1)
    assert _rows(t.read(spark)) == {(1, "a"), (2, "B"), (3, "c")}
    # snapshot isolation: version 0 is byte-for-byte still there
    assert _rows(t.read(spark, version=0)) == {(1, "a"), (2, "b")}
    assert t.versions() == [0, 1]
    assert t.manifest(1)["operation"] == "merge:k"


def test_create_twice_rejected_and_overwrite(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    t.create(df)
    with pytest.raises(ValueError):
        t.create(df)
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert _rows(t.read(spark)) == {(9, "z")}
    assert _rows(t.read(spark, version=0)) == {(1, "a")}


def test_concurrent_commit_conflict(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    # a racing writer lands version 1 first
    winner = spark.createDataFrame([(1, "winner")], "k long, v string")
    t.merge(spark, winner, keys=["k"])
    # the loser targeted the same version from the same base snapshot:
    # its data write succeeds (unique attempt dir) but the manifest
    # O_EXCL race fails and its orphan is cleaned up
    loser = spark.createDataFrame([(1, "loser")], "k long, v string")
    with pytest.raises(VersionConflictError):
        t._write_version(loser, 1, "merge:k")
    # the winning commit is intact and readable
    assert _rows(t.read(spark)) == {(1, "winner")}
    # exactly one data dir remains for version 1 (the winner's)
    assert len(list((t.path / "data").glob("v00001-*"))) == 1
    # retry on the fresh snapshot succeeds as version 2
    assert t.merge(spark, loser, keys=["k"]) == 2
    assert _rows(t.read(spark)) == {(1, "loser")}


def test_diff_change_data_feed(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k long, v string"))
    got = {
        r.k: (r.change_type, r.v)
        for r in t.diff(spark, 0, 1, keys=["k"]).collect()
    }
    # unchanged key 1 is absent; 2 updated, 3 inserted, 4 deleted
    assert got == {2: ("update", "B"), 3: ("insert", "c"), 4: ("delete", "d")}
    # reverse diff swaps insert/delete and restores old values
    rev = {
        r.k: (r.change_type, r.v)
        for r in t.diff(spark, 1, 0, keys=["k"]).collect()
    }
    assert rev == {2: ("update", "b"), 3: ("delete", "c"), 4: ("insert", "d")}


def test_compact_reduces_files_atomically(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    frag = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string"
    ).repartition(16)
    t.create(frag)
    m0 = t.manifest(0)
    n_files_before = len(list((t.path / m0["data_dir"]).glob("*.parquet")))
    assert n_files_before >= 8
    v = t.compact(spark, target_files=2)
    m1 = t.manifest(v)
    n_files_after = len(list((t.path / m1["data_dir"]).glob("*.parquet")))
    assert n_files_after <= 2
    assert _rows(t.read(spark)) == _rows(t.read(spark, version=0))
    assert t.manifest(v)["operation"] == "compact:2"


def test_merge_txn_id_replay_is_exactly_once(spark, tmp_path):
    """A replayed merge carrying the same txn token must be a no-op:
    same version returned, no new version created, contents unchanged."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    upd = spark.createDataFrame([(1, "A"), (2, "b")], "k long, v string")
    v1 = t.merge(spark, upd, keys=["k"], txn_id="batch:7")
    v_replay = t.merge(spark, upd, keys=["k"], txn_id="batch:7")
    assert v_replay == v1
    assert t.versions() == [0, 1]
    assert _rows(t.read(spark)) == {(1, "A"), (2, "b")}
    assert t.manifest(1)["txn_id"] == "batch:7"
    # a NEW token proceeds normally
    v2 = t.merge(spark, upd, keys=["k"], txn_id="batch:8")
    assert v2 == 2


def test_vacuum_keeps_latest(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    for i in range(3):
        t.overwrite(spark.createDataFrame([(1, f"v{i}")], "k long, v string"))
    assert t.versions() == [0, 1, 2, 3]
    assert t.vacuum(keep_last=2) == [0, 1]
    assert t.versions() == [2, 3]
    assert _rows(t.read(spark)) == {(1, "v2")}
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=0)


def test_merge_txn_replay_detected_across_interleaved_commits(spark, tmp_path):
    """Round-3 ADVICE: a replayed batch whose commit is no longer the
    LATEST version (a compact or another writer landed in between) must
    still be recognized as a replay — version history scan, not
    latest-manifest-only."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    upd = spark.createDataFrame([(1, "A"), (2, "b")], "k long, v string")
    v1 = t.merge(spark, upd, keys=["k"], txn_id="batch:7")
    t.compact(spark, target_files=1)  # batch:7 is no longer latest
    other = spark.createDataFrame([(3, "c")], "k long, v string")
    t.merge(spark, other, keys=["k"], txn_id="batch:other")
    v_replay = t.merge(spark, upd, keys=["k"], txn_id="batch:7")
    assert v_replay == v1  # detected as replay, no new version
    assert t.latest_version() == 3
    assert _rows(t.read(spark)) == {(1, "A"), (2, "b"), (3, "c")}


def test_merge_tied_order_by_is_deterministic_single_survivor(spark, tmp_path):
    """Round-3 ADVICE (medium): two source rows tied on (key, order_by)
    must resolve to exactly ONE deterministic survivor — rank() kept
    both and let the union window pick arbitrarily. The winner must be
    identical across partitionings and replays (idempotent final
    state)."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, 0, "orig")], "k long, ts long, v string"))
    from pyspark.sql import functions as F

    tied = spark.createDataFrame(
        [(1, 5, "x"), (1, 5, "y"), (2, 1, "z")], "k long, ts long, v string"
    )
    v1 = t.merge(spark, tied, keys=["k"], order_by=[F.desc("ts")], txn_id="b1")
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert set(got) == {1, 2}, "duplicate keys survived the merge"
    assert got[2] == "z"
    assert got[1] in {"x", "y"}
    # deterministic across a different partitioning of the same source
    t2 = VersionedTable(tmp_path / "tbl2")
    t2.create(spark.createDataFrame([(1, 0, "orig")], "k long, ts long, v string"))
    t2.merge(spark, tied.repartition(7), keys=["k"], order_by=[F.desc("ts")], txn_id="b1")
    got2 = {r.k: r.v for r in t2.read(spark).collect()}
    assert got2 == got


def test_incremental_agg_maintenance_matches_recompute(spark, tmp_path):
    """Incremental view maintenance: maintain a (grp -> sum, count)
    rollup from diff(with_old=True) CDC across a merge (inserts +
    updates, including a GROUP-MOVING update) and an overwrite that
    deletes rows; the maintained aggregate must equal a full recompute
    of each snapshot."""
    from pyspark.sql import functions as F

    from glamira_batch_processing_spark.operators.incremental import (
        maintain_sum_agg,
    )

    def recompute(df):
        return df.groupBy("grp").agg(
            F.sum("amount").alias("amount"), F.count("*").alias("n_rows")
        )

    def as_sorted(df):
        return sorted(
            (r.grp, r.amount, r.n_rows)
            for r in df.select("grp", "amount", "n_rows").collect()
        )

    t = VersionedTable(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "c", 7)],
        "k long, grp string, amount long",
    )
    v0 = t.create(base)
    mat = recompute(t.read(spark, v0))

    # merge: update k=2 amount, MOVE k=3 from grp b -> c, insert k=5
    batch = spark.createDataFrame(
        [(2, "a", 25), (3, "c", 5), (5, "b", 100)],
        "k long, grp string, amount long",
    )
    v1 = t.merge(spark, batch, keys=["k"])
    cdc1 = t.diff(spark, v0, v1, keys=["k"], with_old=True)
    mat = maintain_sum_agg(mat, cdc1, ["grp"], ["amount"])
    assert as_sorted(mat) == as_sorted(recompute(t.read(spark, v1)))

    # overwrite dropping grp 'a' entirely (deletes) — group must vanish
    v2 = t.overwrite(t.read(spark, v1).filter(F.col("grp") != "a"))
    cdc2 = t.diff(spark, v1, v2, keys=["k"], with_old=True)
    mat = maintain_sum_agg(mat, cdc2, ["grp"], ["amount"])
    assert as_sorted(mat) == as_sorted(recompute(t.read(spark, v2)))
    assert all(r.grp != "a" for r in mat.collect())


def test_incremental_agg_maintenance_random_sequences(spark, tmp_path):
    """Seeded randomized equivalence: across rounds of random merges
    (inserts/updates/group moves) and row-dropping overwrites, the
    maintained aggregate must stay bit-equal to a full recompute."""
    import random

    from pyspark.sql import functions as F

    from glamira_batch_processing_spark.operators.incremental import (
        maintain_sum_agg,
    )

    rng = random.Random(42)
    groups = ["a", "b", "c", "d"]

    def recompute(df):
        return df.groupBy("grp").agg(
            F.sum("amount").alias("amount"), F.count("*").alias("n_rows")
        )

    def as_sorted(df):
        return sorted(
            (r.grp, r.amount, r.n_rows)
            for r in df.select("grp", "amount", "n_rows").collect()
        )

    t = VersionedTable(tmp_path / "tbl")
    rows = {k: (rng.choice(groups), rng.randrange(100)) for k in range(8)}
    v = t.create(
        spark.createDataFrame(
            [(k, g, a) for k, (g, a) in rows.items()],
            "k long, grp string, amount long",
        )
    )
    mat = recompute(t.read(spark, v))

    for _ in range(5):
        if rng.random() < 0.3 and len(rows) > 3:
            # overwrite dropping a random subset (deletes)
            keep = set(rng.sample(sorted(rows), len(rows) - 2))
            rows = {k: rows[k] for k in keep}
            v_new = t.overwrite(
                t.read(spark, t.latest_version()).filter(
                    F.col("k").isin(*keep)
                )
            )
        else:
            batch = {}
            for _ in range(rng.randrange(1, 4)):
                k = rng.randrange(0, 14)  # mix of updates and inserts
                batch[k] = (rng.choice(groups), rng.randrange(100))
            rows.update(batch)
            v_new = t.merge(
                spark,
                spark.createDataFrame(
                    [(k, g, a) for k, (g, a) in batch.items()],
                    "k long, grp string, amount long",
                ),
                keys=["k"],
            )
        cdc = t.diff(spark, v, v_new, keys=["k"], with_old=True)
        mat = maintain_sum_agg(mat, cdc, ["grp"], ["amount"])
        assert as_sorted(mat) == as_sorted(recompute(t.read(spark, v_new)))
        v = v_new


def test_compact_with_zorder_clusters_files(spark, tmp_path):
    """compact(cluster_by=...) must preserve contents exactly while
    clustering: with rows z-sorted across files, each output file's
    min/max span on a clustered column is far narrower than the global
    span (that is what makes parquet stats prune)."""
    import glob

    from pyspark.sql import functions as F

    t = VersionedTable(tmp_path / "tbl")
    rng_rows = [
        (k, float((k * 37) % 1000), float((k * 91) % 1000)) for k in range(4000)
    ]
    t.create(spark.createDataFrame(rng_rows, "k long, x double, y double"))
    v = t.compact(spark, target_files=4, cluster_by=["x", "y"])
    assert t.manifest(v)["operation"].startswith("compact+zorder:4:")

    before = sorted(rng_rows)
    after = sorted((r.k, r.x, r.y) for r in t.read(spark, v).collect())
    assert after == before

    data_dir = tmp_path / "tbl" / t.manifest(v)["data_dir"]
    files = sorted(glob.glob(str(data_dir / "*.parquet")))
    assert 2 <= len(files) <= 4
    global_span = 1000.0
    spans = []
    for f in files:
        row = spark.read.parquet(f).agg(
            (F.max("x") - F.min("x")).alias("sx")
        ).collect()[0]
        spans.append(row.sx)
    # clustered: average per-file x-span well under the global span
    assert sum(spans) / len(spans) < 0.6 * global_span, spans


# ---------------------------------------------------------------------------
# Manifest column stats + file pruning (data skipping)
# ---------------------------------------------------------------------------


def _mk_stats_table(spark, path, n=10000, files=8):
    """Clustered table: create -> ZORDER compact on k so file ranges
    are disjoint and pruning has something to skip."""
    t = VersionedTable(path, stat_columns=("k",))
    df = spark.range(n).selectExpr("id AS k", "CAST(id % 97 AS STRING) AS v")
    t.create(df.repartition(4))
    t.compact(spark, target_files=files, cluster_by=["k"])
    return t


def test_stats_recorded_in_manifest(spark, tmp_path):
    t = _mk_stats_table(spark, tmp_path / "tbl")
    m = t.manifest(t.latest_version())
    files = m["files"]
    assert len(files) >= 2
    assert sum(f["rows"] for f in files) == 10000
    for f in files:
        lo, hi = f["stats"]["k"]
        assert 0 <= lo <= hi <= 9999


def test_read_pruned_point_lookup_skips_files(spark, tmp_path):
    t = _mk_stats_table(spark, tmp_path / "tbl")
    df, info = t.read_pruned(spark, "k", lower=12, upper=12)
    assert info["pruned"] and info["files_total"] >= 2
    # ZORDER on a single column = range-clustered: a point hits ~1 file
    assert info["files_read"] < info["files_total"]
    assert [(r.k, r.v) for r in df.collect()] == [(12, str(12 % 97))]


def test_read_pruned_equals_full_filter(spark, tmp_path):
    t = _mk_stats_table(spark, tmp_path / "tbl")
    for lo, hi in [(None, 100), (9900, None), (4000, 4100), (None, None), (20000, None)]:
        pruned, info = t.read_pruned(spark, "k", lower=lo, upper=hi)
        full = t.read(spark)
        if lo is not None:
            full = full.filter(full.k >= lo)
        if hi is not None:
            full = full.filter(full.k <= hi)
        assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


def test_date_stats_recorded_and_pruned(spark, tmp_path):
    """A date column records [min, max] (as ISO strings, which order
    like dates); a point lookup by ``datetime.date`` then skips files
    and returns exactly the full-scan filter. Timestamps stay
    unrecorded."""
    import datetime

    t = VersionedTable(tmp_path / "tbl", stat_columns=("date", "ts", "n"))
    df = spark.range(400).selectExpr(
        "DATE_ADD(DATE'2024-01-01', CAST(id DIV 100 AS INT)) AS date",
        "TIMESTAMP'2024-01-01 00:00:00' + MAKE_INTERVAL(0, 0, 0, 0, 0, id) AS ts",
        "id AS n",
    )
    t.create(df.repartitionByRange(4, "date"))
    files = t.manifest(t.latest_version())["files"]
    assert len(files) >= 2
    ranges = [f["stats"]["date"] for f in files]
    assert all("2024-01-01" <= lo <= hi <= "2024-01-04" for lo, hi in ranges)
    assert all("ts" not in f["stats"] and "n" in f["stats"] for f in files)

    day = datetime.date(2024, 1, 3)
    got, info = t.read_pruned(spark, "date", equals=day)
    assert info["files_read"] < info["files_total"], info
    want = t.read(spark).filter(F.col("date") == F.lit(day))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 100

    got, info = t.read_pruned_multi(
        spark, {"date": {"lower": day, "upper": datetime.date(2024, 1, 4)}}
    )
    assert info["files_read"] < info["files_total"] and got.count() == 200
    got, info = t.read_pruned_in(spark, "date", [datetime.date(2024, 1, 1)])
    assert info["files_read"] < info["files_total"] and got.count() == 100


def test_read_pruned_empty_interval_preserves_schema(spark, tmp_path):
    t = _mk_stats_table(spark, tmp_path / "tbl")
    df, info = t.read_pruned(spark, "k", lower=50000)
    assert info["files_read"] == 0
    assert df.columns == ["k", "v"]
    assert df.count() == 0


def test_read_pruned_in_set_membership(spark, tmp_path):
    """read_pruned_in: equals the full-scan IN filter, skips files that
    hold none of the probed values, handles the empty set, and falls
    back conservatively without stats."""
    t = _mk_stats_table(spark, tmp_path / "tbl")
    # values spanning two distant ranges + one absent value
    vals = [12, 9900, 50000]
    df, info = t.read_pruned_in(spark, "k", vals)
    assert info["pruned"] and 0 < info["files_read"] < info["files_total"]
    full = t.read(spark)
    expect = full.filter(full.k.isin(vals))
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))
    # all values out of range -> zero files, schema preserved
    df2, info2 = t.read_pruned_in(spark, "k", [70000, 80000])
    assert info2["files_read"] == 0 and df2.count() == 0
    assert df2.columns == ["k", "v"]
    # empty value set -> footers-only empty read
    df3, info3 = t.read_pruned_in(spark, "k", [])
    assert info3["files_read"] == 0 and df3.count() == 0
    # duplicates in the probe set do not duplicate rows
    df4, _ = t.read_pruned_in(spark, "k", [12, 12])
    assert df4.count() == 1


def test_read_pruned_in_bloom_drops_unclustered_files(spark, tmp_path):
    """On an UNCLUSTERED table every file's min/max covers the key
    space, so range pruning keeps everything — the per-file blooms must
    still drop files where every probed value is definitely absent."""
    t = VersionedTable(
        tmp_path / "tbl", stat_columns=("k",), bloom_columns=("k",),
        bloom_fpp=0.001,
    )
    # interleaved keys per file: file i holds k % 4 == i -> min/max
    # ranges all span [i, ~8000), but blooms separate membership
    df = spark.range(8000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.create(df.repartition(4, (df.k % 4).cast("int")))
    m = t.manifest(t.latest_version())
    assert len(m["files"]) >= 3
    probe = [16, 20]  # both k % 4 == 0
    got, info = t.read_pruned_in(spark, "k", probe)
    assert info["files_read"] < info["files_total"], info
    assert sorted(r.k for r in got.collect()) == probe


def test_read_pruned_without_stats_falls_back(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")  # no stat_columns
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    df, info = t.read_pruned(spark, "k", lower=2)
    assert info["pruned"] is False
    assert [(r.k, r.v) for r in df.collect()] == [(2, "b")]


def test_read_pruned_unknown_stat_column_reads_all(spark, tmp_path):
    t = _mk_stats_table(spark, tmp_path / "tbl")
    # v is a string column with no recorded stats -> conservative full read
    df, info = t.read_pruned(spark, "v", lower="5")
    assert info["files_read"] == info["files_total"]


def test_merge_additive_schema_evolution(spark, tmp_path):
    """Round-6 (VERDICT r5 ask #6): a MERGE batch carrying one NEW
    column evolves the table additively — old rows read NULL for it,
    time travel preserves each version's own schema, the manifest
    records the schema history, and reconcile_read unions the raw
    version directories across the drift."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    batch = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30)], "k long, v string, score long"
    )
    assert t.merge(spark, batch, keys=["k"]) == 1
    cur = t.read(spark)
    assert cur.columns == ["k", "v", "score"]
    got = {(r.k, r.v, r.score) for r in cur.collect()}
    assert got == {(1, "a", None), (2, "B", 20), (3, "c", 30)}
    # time travel: version 0 keeps its original 2-column schema
    assert t.read(spark, version=0).columns == ["k", "v"]
    # manifest schema history is inspectable without reading data
    def columns(v):
        return [(f.name, f.dataType.simpleString())
                for f in StructType.fromJson(t.manifest(v)["schema"]).fields]

    assert columns(0) == [("k", "bigint"), ("v", "string")]
    assert columns(1) == [("k", "bigint"), ("v", "string"), ("score", "bigint")]
    # reconcile_read handles the union of raw version directories
    from glamira_batch_processing_spark.sources.readers import reconcile_read

    import glob

    paths = []
    for v in (0, 1):
        d = str(tmp_path / "tbl" / t.manifest(v)["data_dir"])
        paths.extend(glob.glob(f"{d}/part-*.parquet"))
    union = reconcile_read(spark, paths)
    assert set(union.columns) == {"k", "v", "score"}
    assert union.count() == 5  # 2 rows in v0 + 3 in v1


def test_nested_field_name_with_space_and_colon_round_trips(spark, tmp_path):
    """The manifest stores ``StructType.json()``: a nested field name
    that simpleString leaves unquoted (``"a b:c"``) survives create ->
    merge -> read with the schema taken from the manifest."""
    schema = "k long, s struct<`a b:c`: long, plain: string>"
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, (10, "x")), (2, (20, "y"))], schema))
    t.merge(spark, spark.createDataFrame([(2, (21, "Y")), (3, (30, "z"))], schema), keys=["k"])
    df = t.read(spark)
    assert df.schema["s"].dataType.fieldNames() == ["a b:c", "plain"]
    got = sorted((r.k, r["s"]["a b:c"], r["s"]["plain"]) for r in df.collect())
    assert got == [(1, 10, "x"), (2, 21, "Y"), (3, 30, "z")]


def test_legacy_pair_schema_manifest_still_reads(spark, tmp_path):
    """A manifest written before the JSON schema, with ``[name,
    simpleString]`` pairs, is read through them as DDL."""
    import json

    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    path = t._manifest_path(0)
    m = json.loads(path.read_text())
    m["schema"] = [["k", "bigint"], ["v", "string"]]
    path.write_text(json.dumps(m))
    df = t.read(spark)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("k", "bigint"), ("v", "string")
    ]
    assert [(r.k, r.v) for r in df.collect()] == [(1, "a")]


def test_merge_source_missing_column_null_fills_inserts(spark, tmp_path):
    """The reverse drift: a batch LACKING a table column null-fills it
    (whole-row source-wins semantics, documented)."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(
        spark.createDataFrame([(1, "a", 10)], "k long, v string, score long")
    )
    batch = spark.createDataFrame([(1, "A"), (2, "b")], "k long, v string")
    t.merge(spark, batch, keys=["k"])
    got = {(r.k, r.v, r.score) for r in t.read(spark).collect()}
    assert got == {(1, "A", None), (2, "b", None)}


def test_merge_type_drift_raises(spark, tmp_path):
    """A common column whose TYPE drifts must raise, not cast silently."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, 10)], "k long, score long"))
    drifted = spark.createDataFrame([(2, "20")], "k long, score string")
    with pytest.raises(ValueError, match="type drift"):
        t.merge(spark, drifted, keys=["k"])
    # and a batch missing a merge key is rejected up front
    nokey = spark.createDataFrame([("x",)], "other string")
    with pytest.raises(ValueError, match="merge keys"):
        t.merge(spark, nokey, keys=["k"])


def test_write_audit_publish_failed_check_leaves_head_untouched(spark, tmp_path):
    """WAP: a staged write that fails audit must vanish — no new
    version, no leftover staged files, head still readable."""
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    t = VersionedTable(tmp_path / "wap")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    bad = spark.createDataFrame([(2, None)], "k long, v string")
    version, results = t.write_audit_publish(
        bad,
        checks=[
            ("v_not_null", lambda df: df.filter(F.col("v").isNull()).count() == 0),
            ("nonempty", lambda df: df.count() > 0),
        ],
    )
    assert version is None
    assert results == {"v_not_null": False, "nonempty": True}
    assert t.latest_version() == 0
    assert t.read(spark).count() == 1
    staged_left = list((tmp_path / "wap").rglob("staged-*"))
    assert staged_left == []


def test_write_audit_publish_passing_checks_publishes_atomically(spark, tmp_path):
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    t = VersionedTable(tmp_path / "wap2")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    good = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")
    version, results = t.write_audit_publish(
        good, checks=[("nonempty", lambda df: df.count() > 0)]
    )
    assert version == 1 and results == {"nonempty": True}
    assert t.read(spark).count() == 2
    # time travel to the pre-publish snapshot still works
    assert t.read(spark, version=0).count() == 1


def test_write_audit_publish_raising_check_aborts_staged_files(spark, tmp_path):
    """A check that RAISES (not just returns False) must still clean up
    the staged directory — unreferenced files are unreclaimable by
    vacuum() — and propagate the error."""
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    t = VersionedTable(tmp_path / "wap_raise")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))

    def exploding_check(df):
        return df.filter(F.col("no_such_column") > 0).count() == 0

    with pytest.raises(Exception):
        t.write_audit_publish(
            spark.createDataFrame([(2, "b")], "k long, v string"),
            checks=[("boom", exploding_check)],
        )
    assert t.latest_version() == 0
    assert list((tmp_path / "wap_raise").rglob("staged-*")) == []


def test_publish_with_txn_id_is_exactly_once_under_replay(spark, tmp_path):
    """A replayed publish carrying an already-committed txn_id must be
    a no-op returning the original version (mirrors merge()'s replay
    scan), and must drop its redundant staged files."""
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    t = VersionedTable(tmp_path / "wap_txn")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    df = spark.createDataFrame([(2, "b")], "k long, v string")
    v1 = t.publish(t.stage(df, txn_id="batch-42"))
    assert v1 == 1
    # another writer lands in between, as in merge()'s replay scenario
    t.overwrite(spark.createDataFrame([(5, "e")], "k long, v string"))
    # v1's committed data dir keeps its staged- name; only NEW staged
    # dirs (the replay's redundant files) must be cleaned up.
    before = set((tmp_path / "wap_txn").rglob("staged-*"))
    replay = t.publish(t.stage(df, txn_id="batch-42"))
    assert replay == v1
    assert t.latest_version() == 2  # no duplicate version appended
    assert set((tmp_path / "wap_txn").rglob("staged-*")) == before


def test_publish_survives_concurrent_commit_between_stage_and_publish(
    spark, tmp_path
):
    """A commit landing between stage() and publish() must not destroy
    the staged files; publish retries at the new head."""
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    t = VersionedTable(tmp_path / "wap3")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    staged = t.stage(spark.createDataFrame([(9, "z")], "k long, v string"))
    # Concurrent writer bumps the head while our audit "runs".
    t.overwrite(spark.createDataFrame([(5, "e")], "k long, v string"))
    assert t.latest_version() == 1
    v = t.publish(staged)
    assert v == 2
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(9, "z")}


def test_write_audit_publish_drift_gate(spark, tmp_path):
    """WAP + distribution-drift audit (the qa_snapshot_drift shape as a
    check callback): an incoming batch whose value distribution matches
    the table head publishes; a shifted batch is rejected with the head
    untouched. The KS gap is computed in exact cross-multiplied
    integers, same discipline as the contract query."""
    from glamira_batch_processing_spark.sources.versioned import VersionedTable

    def bucket_counts(df):
        rows = (
            df.groupBy(
                F.least(
                    F.greatest(F.floor(F.col("value") / 100.0).cast("long"), F.lit(0)),
                    F.lit(9),
                ).alias("bucket")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
        counts = [0] * 10
        for r in rows:
            counts[r.bucket] = r.n
        return counts

    def ks_gate(head_counts, max_ks_ppm=200_000):
        t_old = sum(head_counts)

        def check(staged_df):
            new_counts = bucket_counts(staged_df)
            t_new = sum(new_counts)
            cum_old = cum_new = 0
            worst = 0
            for o, n in zip(head_counts, new_counts):
                cum_old += o
                cum_new += n
                worst = max(worst, abs(cum_old * t_new - cum_new * t_old))
            # KS statistic in ppm, exact integers until one division
            return worst * 1_000_000 // (t_old * t_new) <= max_ks_ppm

        return check

    head = spark.createDataFrame(
        [(i, float((i * 37) % 1000)) for i in range(400)], "k long, value double"
    )
    t = VersionedTable(tmp_path / "wapdrift")
    t.create(head)
    head_counts = bucket_counts(t.read(spark))

    same_dist = spark.createDataFrame(
        [(1000 + i, float((i * 59) % 1000)) for i in range(200)],
        "k long, value double",
    )
    v, results = t.write_audit_publish(same_dist, checks=[("drift", ks_gate(head_counts))])
    assert v is not None and results == {"drift": True}

    shifted = spark.createDataFrame(
        [(2000 + i, 900.0 + (i % 100)) for i in range(200)],
        "k long, value double",
    )
    head_before = t.latest_version()
    v2, results2 = t.write_audit_publish(shifted, checks=[("drift", ks_gate(head_counts))])
    assert v2 is None and results2 == {"drift": False}
    assert t.latest_version() == head_before


# ---------------------------------------------------------------------------
# Bloom-filter file skipping (point lookups on high-cardinality keys)
# ---------------------------------------------------------------------------


def _mk_bloom_table(spark, path, n=4000, files=8):
    """UNCLUSTERED high-cardinality key: every file's min/max range
    spans ~the whole key space (round-robin repartition), so min/max
    pruning is useless and any skipping is the bloom's doing."""
    t = VersionedTable(
        path, stat_columns=("uid",), bloom_columns=("uid",), bloom_fpp=0.001
    )
    df = spark.range(n).selectExpr(
        "CONCAT('user-', CAST(id AS STRING)) AS uid", "id AS v"
    )
    t.create(df.repartition(files))
    return t


def test_bloom_recorded_per_file(spark, tmp_path):
    t = _mk_bloom_table(spark, tmp_path / "tbl")
    m = t.manifest(t.latest_version())
    for f in m["files"]:
        b = f["bloom"]["uid"]
        assert b["m"] >= 8 and b["k"] >= 1 and len(b["b64"]) > 0


def test_bloom_point_lookup_prunes_unclustered_files(spark, tmp_path):
    t = _mk_bloom_table(spark, tmp_path / "tbl")
    # min/max on uid covers the whole range per file; blooms still
    # narrow a present key to the file(s) that may hold it
    df, info = t.read_pruned(spark, "uid", equals="user-1234")
    assert info["files_total"] == 8
    assert info["files_read"] < info["files_total"]
    assert [(r.uid, r.v) for r in df.collect()] == [("user-1234", 1234)]


def test_bloom_absent_key_prunes_everything(spark, tmp_path):
    t = _mk_bloom_table(spark, tmp_path / "tbl")
    # deterministic fixture + deterministic hashes: with fpp 1e-3 and 8
    # files this specific absent key probes clean everywhere
    df, info = t.read_pruned(spark, "uid", equals="user-is-not-here")
    assert info["files_read"] == 0
    assert df.count() == 0 and df.columns == ["uid", "v"]


def test_bloom_never_prunes_present_keys(spark, tmp_path):
    t = _mk_bloom_table(spark, tmp_path / "tbl", n=500)
    # soundness: EVERY present key must survive pruning (no-false-negative
    # bloom property), checked exhaustively
    for i in range(0, 500, 37):
        df, _ = t.read_pruned(spark, "uid", equals=f"user-{i}")
        assert df.count() == 1, f"user-{i} wrongly pruned"


def test_bloom_survives_merge_commits(spark, tmp_path):
    t = _mk_bloom_table(spark, tmp_path / "tbl", n=200, files=2)
    src = spark.createDataFrame([("user-9999", 9999)], "uid string, v long")
    t.merge(spark, src, keys=["uid"])
    df, info = t.read_pruned(spark, "uid", equals="user-9999")
    assert info["pruned"] and df.count() == 1


def test_bloom_equals_mutually_exclusive_with_range(spark, tmp_path):
    t = _mk_bloom_table(spark, tmp_path / "tbl", n=100, files=2)
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.read_pruned(spark, "uid", lower="a", equals="user-1")


def test_bloom_fpp_validation(tmp_path):
    with pytest.raises(ValueError, match="bloom_fpp"):
        VersionedTable(tmp_path / "tbl", bloom_columns=("k",), bloom_fpp=1.5)


# ---------------------------------------------------------------------------
# DELETE (copy-on-write) + orphan GC
# ---------------------------------------------------------------------------


def test_delete_where_removes_only_true_predicate_rows(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "k long, v string"
        )
    )
    # v = 'a' is TRUE for k=1, NULL for k=2 (NULL rows must be KEPT)
    v = t.delete_where(spark, "v = 'a'")
    assert v == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [2, 3]
    # time travel still sees the pre-delete snapshot
    assert t.read(spark, 0).count() == 3


def test_delete_where_cdc_reports_deletes(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    t.delete_where(spark, "k = 2")
    d = t.diff(spark, 0, 1, keys=["k"]).collect()
    assert [(r.k, r.change_type) for r in d] == [(2, "delete")]


def test_delete_where_txn_replay_is_noop(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1,), (2,)], "k long"))
    v1 = t.delete_where(spark, "k = 1", txn_id="del-1")
    v2 = t.delete_where(spark, "k = 1", txn_id="del-1")  # replay
    assert v1 == v2 == 1
    assert t.latest_version() == 1


def test_delete_where_column_predicate(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(i,) for i in range(10)], "k long"))
    t.delete_where(spark, F.col("k") >= 5)
    assert t.read(spark).count() == 5


def test_gc_orphans_removes_unreferenced_dirs_only(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1,)], "k long"))
    # fabricate a crashed writer's leftover dir
    orphan = tmp_path / "tbl" / "data" / "v00009-deadbeef"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"junk")
    import os

    old = __import__("time").time() - 90000
    os.utime(orphan, (old, old))
    removed = t.gc_orphans()
    assert removed == ["data/v00009-deadbeef"]
    assert t.read(spark).count() == 1  # live data untouched


def test_gc_orphans_spares_young_dirs(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1,)], "k long"))
    young = tmp_path / "tbl" / "data" / "v00009-cafecafe"
    young.mkdir(parents=True)
    assert t.gc_orphans() == []  # default 1-day bar spares it
    assert young.is_dir()
    assert t.gc_orphans(min_age_seconds=0.0) == ["data/v00009-cafecafe"]


# ---------------------------------------------------------------------------
# RESTORE (metadata-only rollback)
# ---------------------------------------------------------------------------


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "good")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(1, "bad")], "k long, v string"))
    v = t.restore(0)
    assert v == 2
    assert _rows(t.read(spark)) == {(1, "good")}
    # history preserved: the bad version stays time-travelable
    assert _rows(t.read(spark, version=1)) == {(1, "bad")}
    assert t.manifest(2)["operation"] == "restore:0"
    # metadata-only: versions 0 and 2 share one physical data dir
    assert t.manifest(2)["data_dir"] == t.manifest(0)["data_dir"]


def test_vacuum_keeps_data_shared_with_restored_version(spark, tmp_path):
    """Reference-aware vacuum: dropping the ORIGINAL version of a
    restored snapshot must not delete the data dir the restore still
    points at."""
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "good")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(1, "bad")], "k long, v string"))
    t.restore(0)
    removed = t.vacuum(keep_last=1)  # drops v0 (shares dir with v2) and v1
    assert removed == [0, 1]
    assert _rows(t.read(spark)) == {(1, "good")}  # data dir survived


def test_restore_missing_version_raises(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(FileNotFoundError):
        t.restore(7)


# ---------------------------------------------------------------------------
# Incremental compaction (bin-pack only the small files)
# ---------------------------------------------------------------------------


def _mixed_size_table(spark, path):
    """One version holding 1 big file + 6 tiny files (narrow union
    keeps both sides' partitioning, so the write emits 7 files)."""
    t = VersionedTable(path, stat_columns=("k",))
    big = spark.range(200_000).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1)
    small = (
        spark.range(200_000, 200_060)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .repartition(6)
    )
    t.create(big.unionByName(small))
    return t


def test_compact_small_packs_only_small_files(spark, tmp_path):
    t = _mixed_size_table(spark, tmp_path / "tbl")
    m0 = t.manifest(0)
    files0 = sorted(t._version_abs_files(m0))
    assert len(files0) == 7
    import os

    big0 = max(files0, key=os.path.getsize)
    big0_mtime_before = os.path.getmtime(big0)
    v = t.compact_small(spark, target_bytes=1 << 20)
    assert v == 1
    m1 = t.manifest(1)
    files1 = sorted(t._version_abs_files(m1))
    # 6 tiny files packed into 1; the big file carried forward untouched
    assert len(files1) == 2, files1
    assert big0 in files1
    assert os.path.getmtime(big0) == big0_mtime_before  # untouched
    # contents identical across the compact
    assert t.read(spark, 1).count() == t.read(spark, 0).count() == 200_060
    assert (
        t.read(spark, 1).selectExpr("sum(k) AS s").collect()[0].s
        == t.read(spark, 0).selectExpr("sum(k) AS s").collect()[0].s
    )


def test_compact_small_noop_below_min_files(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.range(10).selectExpr("id AS k").coalesce(1))
    assert t.compact_small(spark) == 0  # one small file: nothing to pack
    assert t.versions() == [0]


def test_compact_small_stats_carry_forward_for_pruning(spark, tmp_path):
    t = _mixed_size_table(spark, tmp_path / "tbl")
    t.compact_small(spark, target_bytes=1 << 20)
    # point lookup in the BIG file's range: stats carried forward, so
    # the packed file is pruned away
    df, info = t.read_pruned(spark, "k", equals=12345)
    assert info["pruned"] and info["files_total"] == 2
    assert info["files_read"] == 1, info
    assert [r.k for r in df.collect()] == [12345]
    # and in the packed range
    df2, info2 = t.read_pruned(spark, "k", equals=200_030)
    assert info2["files_read"] == 1, info2
    assert df2.count() == 1


def test_vacuum_after_compact_small_keeps_carried_files(spark, tmp_path):
    t = _mixed_size_table(spark, tmp_path / "tbl")
    t.compact_small(spark, target_bytes=1 << 20)
    removed = t.vacuum(keep_last=1)
    assert removed == [0]
    # the big file v0 wrote is still referenced by v1 and must survive
    assert t.read(spark).count() == 200_060
    # the six packed-away tiny files ARE gone (unreferenced)
    m1 = t.manifest(1)
    assert len(t._version_abs_files(m1)) == 2


def test_restore_of_compact_small_version_roundtrips(spark, tmp_path):
    t = _mixed_size_table(spark, tmp_path / "tbl")
    t.compact_small(spark, target_bytes=1 << 20)
    t.overwrite(spark.createDataFrame([(0, "x")], "k long, v string"))
    v = t.restore(1)
    assert t.read(spark, v).count() == 200_060
    assert "file_paths" in t.manifest(v)


# ---------------------------------------------------------------------------
# Multi-column conjunctive pruning
# ---------------------------------------------------------------------------


def _mk_2d_table(spark, path):
    """ZORDER on (k, g): both columns carry tight per-file ranges."""
    t = VersionedTable(path, stat_columns=("k", "g"))
    df = spark.range(20000).selectExpr("id AS k", "id % 100 AS g", "CAST(id AS STRING) AS v")
    t.create(df.repartition(4))
    t.compact(spark, target_files=16, cluster_by=["k", "g"])
    return t


def test_multi_column_pruning_beats_single(spark, tmp_path):
    t = _mk_2d_table(spark, tmp_path / "tbl")
    single, i1 = t.read_pruned(spark, "k", lower=5000, upper=5400)
    multi, i2 = t.read_pruned_multi(
        spark, {"k": {"lower": 5000, "upper": 5400}, "g": {"lower": 10, "upper": 12}}
    )
    assert i2["files_read"] <= i1["files_read"]
    # exactness: same rows as the brute-force filter
    expect = (
        t.read(spark)
        .filter("k BETWEEN 5000 AND 5400 AND g BETWEEN 10 AND 12")
        .count()
    )
    assert multi.count() == expect > 0


def test_multi_column_equals_uses_bloom(spark, tmp_path):
    t = VersionedTable(
        tmp_path / "tbl", stat_columns=("g",), bloom_columns=("uid",), bloom_fpp=0.001
    )
    df = spark.range(2000).selectExpr(
        "CONCAT('u', CAST(id AS STRING)) AS uid", "id % 10 AS g"
    )
    t.create(df.repartition(8))
    got, info = t.read_pruned_multi(
        spark, {"uid": {"equals": "u777"}, "g": {"equals": 7}}
    )
    assert info["files_read"] < info["files_total"]
    assert [(r.uid, r.g) for r in got.collect()] == [("u777", 7)]


def test_multi_column_validation(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(ValueError, match="unknown predicate"):
        t.read_pruned_multi(spark, {"k": {"min": 1}})
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.read_pruned_multi(spark, {"k": {"equals": 1, "lower": 0}})


# ---------------------------------------------------------------------------
# Round-8 hardening: config-drift completeness, staged-dir gc safety,
# integral-float bloom probes
# ---------------------------------------------------------------------------


def test_compact_small_covers_carried_files_after_stats_enabled(spark, tmp_path):
    """Prior version committed WITHOUT per-file entries, then stats get
    enabled and compact_small runs: the carried-forward big file has no
    prior entry to carry, so the committed 'files' list must still
    COVER it (synthesized stat-less entry) — otherwise read_pruned
    treats the list as the complete file set and silently drops every
    big-file row."""
    import os

    path = tmp_path / "tbl"
    plain = VersionedTable(path)  # no stat_columns -> manifest has no 'files'
    big = (
        spark.range(200_000)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .coalesce(1)
    )
    small = (
        spark.range(200_000, 200_060)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .repartition(6)
    )
    plain.create(big.unionByName(small))
    assert plain.manifest(0).get("files") is None

    t = VersionedTable(path, stat_columns=("k",))  # config drift: stats now on
    v = t.compact_small(spark, target_bytes=1 << 20)
    assert v == 1
    m = t.manifest(1)
    # every live path is covered by an entry (completeness invariant)
    assert {e["path"] for e in m["files"]} == set(m["file_paths"])
    # and pruned reads see ALL the rows, including the big file's
    df, info = t.read_pruned(spark, "k", lower=0)
    assert df.count() == 200_060
    assert info["files_read"] == info["files_total"]  # stat-less -> always read
    df2, _ = t.read_pruned_multi(spark, {"k": {"lower": 0}})
    assert df2.count() == 200_060


def test_compact_small_covers_new_files_after_stats_disabled(spark, tmp_path):
    """Inverse drift: table built WITH stats, compacted by an instance
    with stats disabled — the newly packed file gets no entry from
    _write_data_with_stats, so it must be synthesized into 'files'."""
    path = tmp_path / "tbl"
    t0 = VersionedTable(path, stat_columns=("k",))
    big = (
        spark.range(200_000)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .coalesce(1)
    )
    small = (
        spark.range(200_000, 200_060)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .repartition(6)
    )
    t0.create(big.unionByName(small))
    assert t0.manifest(0).get("files")  # stats were recorded

    t = VersionedTable(path)  # drift: stats now OFF
    v = t.compact_small(spark, target_bytes=1 << 20)
    assert v == 1
    m = t.manifest(1)
    assert {e["path"] for e in m["files"]} == set(m["file_paths"])
    # reads via an instance that prunes still see every row
    tp = VersionedTable(path, stat_columns=("k",))
    df, _ = tp.read_pruned(spark, "k", lower=0)
    assert df.count() == 200_060


def test_gc_orphans_spares_staged_dirs_by_default(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.range(5).selectExpr("id AS k"))
    staged = t.stage(spark.range(5, 9).selectExpr("id AS k"))
    import os
    import time as _time

    past = _time.time() - 10 * 86400
    os.utime(staged.data_dir, (past, past))  # aged way past min_age
    removed = t.gc_orphans(min_age_seconds=1.0)
    assert removed == []  # staged dir spared: audit may still be running
    assert t.publish(staged) == 1
    assert t.read(spark).count() == 4


def test_publish_after_staged_gc_raises_instead_of_committing(spark, tmp_path):
    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.range(5).selectExpr("id AS k"))
    staged = t.stage(spark.range(5, 9).selectExpr("id AS k"))
    import os
    import time as _time

    past = _time.time() - 10 * 86400
    os.utime(staged.data_dir, (past, past))
    removed = t.gc_orphans(min_age_seconds=1.0, include_staged=True)
    assert removed  # opt-in flag reclaims the aged stage
    with pytest.raises(FileNotFoundError, match="re-stage"):
        t.publish(staged)
    # table head unchanged: no manifest points at vanished data
    assert t.latest_version() == 0
    assert t.read(spark).count() == 5


def test_publish_after_partial_stage_loss_raises(spark, tmp_path):
    """Round-9 ADVICE: a crash mid-rmtree that leaves ONE surviving
    parquet file must still fail publish — the old any-glob guard
    committed a manifest referencing the deleted files."""
    t = VersionedTable(tmp_path / "tbl", stat_columns=("k",))
    t.create(spark.range(5).selectExpr("id AS k"))
    staged = t.stage(
        spark.range(5, 25).selectExpr("id AS k").repartition(3)
    )
    assert staged.files and len(staged.files) >= 2
    # simulate the partial deletion: drop all but one recorded file
    for entry in staged.files[1:]:
        (staged.data_dir / entry["path"]).unlink()
    with pytest.raises(FileNotFoundError, match="re-stage"):
        t.publish(staged)
    assert t.latest_version() == 0
    assert t.read(spark).count() == 5


def test_concurrent_merge_writers_serialize_without_lost_updates(spark, tmp_path):
    """VERDICT r8 ask #7: optimistic concurrency under two GENUINELY
    concurrent merge() callers (two threads, one JVM — Spark serves
    concurrent job submission per thread), not sequential replays.

    Each writer merges disjoint key batches with the documented
    retry-on-VersionConflictError loop. A lost update (a winner
    committing from a stale base without the loser re-reading) would
    drop the other writer's rows, so the final exact key census is the
    serializability proof; consecutive version numbers prove every
    commit went through the O_EXCL manifest race."""
    import threading

    from glamira_batch_processing_spark.sources.versioned import (
        VersionConflictError,
    )

    t = VersionedTable(tmp_path / "tbl")
    t.create(
        spark.range(0).selectExpr(
            "id AS k", "id AS v", "CAST(0 AS LONG) AS writer"
        )
    )
    n_batches, batch_rows = 3, 10
    errors: list[Exception] = []
    retries = {1: 0, 2: 0}

    def writer(wid: int) -> None:
        try:
            for b in range(n_batches):
                lo = wid * 1000 + b * batch_rows
                src = spark.range(lo, lo + batch_rows).selectExpr(
                    "id AS k", "id * 2 AS v", f"CAST({wid} AS LONG) AS writer"
                )
                while True:
                    try:
                        t.merge(spark, src, keys=["k"])
                        break
                    except VersionConflictError:
                        retries[wid] += 1
        except Exception as exc:  # surface thread failures to the assert
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors
    final = t.read(spark)
    expect = 2 * n_batches * batch_rows
    # no lost updates: every batch's keys survive exactly once
    assert final.count() == expect
    assert final.select("k").distinct().count() == expect
    per_writer = {
        r["writer"]: r["n"]
        for r in final.groupBy("writer").count().withColumnRenamed("count", "n").collect()
    }
    assert per_writer == {1: n_batches * batch_rows, 2: n_batches * batch_rows}
    # serialized commit order: create + one version per merge, consecutive
    assert t.versions() == list(range(2 * n_batches + 1))


def test_concurrent_merge_across_processes(spark, tmp_path):
    """Two-PROCESS contention (VERDICT r8 ask #7's stronger form): a
    subprocess with its OWN SparkSession (separate JVM) merges into the
    same table path while this session merges — the O_EXCL manifest
    race and retry loop must serialize commits across process
    boundaries with no lost updates, exactly the multi-writer cloud
    scenario the manifest protocol exists for."""
    import os
    import subprocess
    import sys
    import textwrap

    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.range(0).selectExpr("id AS k", "CAST(0 AS LONG) AS w"))

    child_src = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
        from pyspark.sql import SparkSession
        from glamira_batch_processing_spark.sources.versioned import (
            VersionConflictError, VersionedTable,
        )
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.session.timeZone", "UTC")
                 .appName("vt-child-writer").getOrCreate())
        t = VersionedTable({str(tmp_path / "tbl")!r})
        for b in range(2):
            src = spark.range(2000 + b * 10, 2010 + b * 10).selectExpr(
                "id AS k", "CAST(2 AS LONG) AS w")
            while True:
                try:
                    t.merge(spark, src, keys=["k"])
                    break
                except VersionConflictError:
                    continue
        print("CHILD_OK")
        """
    )
    env = {k: v for k, v in os.environ.items()}
    proc = subprocess.Popen(
        [sys.executable, "-c", child_src],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        env=env,
    )
    try:
        from glamira_batch_processing_spark.sources.versioned import (
            VersionConflictError,
        )

        for b in range(2):
            src = spark.range(1000 + b * 10, 1010 + b * 10).selectExpr(
                "id AS k", "CAST(1 AS LONG) AS w"
            )
            while True:
                try:
                    t.merge(spark, src, keys=["k"])
                    break
                except VersionConflictError:
                    continue
        out, _ = proc.communicate(timeout=600)
        assert "CHILD_OK" in out, out[-2000:]
    finally:
        if proc.poll() is None:
            proc.kill()
    final = t.read(spark)
    assert final.count() == 40  # 2 writers x 2 batches x 10 disjoint keys
    per_writer = {r["w"]: r["count"] for r in final.groupBy("w").count().collect()}
    assert per_writer == {1: 20, 2: 20}
    # serialized history: create + exactly four merge commits
    assert t.versions() == list(range(5))


def test_crash_between_staged_files_and_manifest_link(spark, tmp_path):
    """Crash-injection on the commit path (VERDICT r9 ask #6): a
    subprocess writer is SIGKILLed AFTER its data files (and fsynced
    tmp manifest body) land but BEFORE the atomic ``os.link`` makes the
    manifest visible — a real process death at the exact protocol
    boundary, injected by replacing ``os.link`` with a self-SIGKILL in
    the child. The table must then: (1) still read at the prior
    version, (2) accept the next writer at the next version number,
    and (3) let gc_orphans reclaim the dead attempt's data directory
    without touching any committed directory — no orphan leak, no
    torn state."""
    import os
    import subprocess
    import sys
    import textwrap

    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.range(10).selectExpr("id AS k", "id * 2 AS v"))
    assert t.latest_version() == 0

    child_src = textwrap.dedent(
        f"""
        import os, signal, sys
        sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
        # Crash injection: the commit path's only os.link call is the
        # manifest's atomic visibility step; dying inside it models a
        # writer killed after staging data but before commit.
        def _die(src, dst, *a, **kw):
            sys.stdout.write("LINK_REACHED\\n"); sys.stdout.flush()
            os.kill(os.getpid(), signal.SIGKILL)
        os.link = _die
        from pyspark.sql import SparkSession
        from glamira_batch_processing_spark.sources.versioned import VersionedTable
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.session.timeZone", "UTC")
                 .appName("vt-crash-writer").getOrCreate())
        t = VersionedTable({str(tmp_path / "tbl")!r})
        t.overwrite(spark.range(100, 110).selectExpr("id AS k", "id AS v"))
        print("UNREACHABLE")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", child_src],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        env=dict(os.environ),
        timeout=600,
    )
    assert "LINK_REACHED" in proc.stdout, proc.stdout[-2000:]
    assert "UNREACHABLE" not in proc.stdout
    assert proc.returncode == -9  # SIGKILL, not a clean exit

    # (1) prior version intact and readable; the crashed attempt is
    # invisible (no v1 manifest, only an unreferenced data dir + the
    # dead writer's tmp manifest body).
    assert t.latest_version() == 0
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(10))
    data_root = tmp_path / "tbl" / "data"
    orphan_dirs = [
        d.name
        for d in data_root.iterdir()
        if d.is_dir() and d.name.startswith("v00001-")
    ]
    assert len(orphan_dirs) == 1, orphan_dirs  # staged files DID land
    tmp_manifests = list((tmp_path / "tbl" / "_manifests").glob(".tmp-*"))
    assert len(tmp_manifests) == 1  # fsynced body, never linked

    # (2) the next writer is oblivious: same version number the dead
    # writer attempted, fresh attempt-unique data dir, clean commit.
    t.overwrite(spark.range(200, 205).selectExpr("id AS k", "id AS v"))
    assert t.versions() == [0, 1]
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(200, 205))

    # (3) gc reclaims exactly the dead attempt's directory AND its
    # never-linked tmp manifest body; every committed version stays
    # readable afterwards.
    removed = t.gc_orphans(min_age_seconds=0.0)
    assert f"data/{orphan_dirs[0]}" in removed
    assert any(r.startswith("_manifests/.tmp-") for r in removed)
    assert not list((tmp_path / "tbl" / "_manifests").glob(".tmp-*"))
    assert sorted(r["k"] for r in t.read(spark, 0).collect()) == list(range(10))
    assert sorted(r["k"] for r in t.read(spark, 1).collect()) == list(range(200, 205))


def test_bloom_probe_integral_float_matches_bigint_column(spark, tmp_path):
    """equals=1.0 against a bigint column must probe the same bloom
    slot as equals=1 — a type-tag mismatch is a silent wrong-rows
    prune, not a degraded plan."""
    t = VersionedTable(
        tmp_path / "tbl", stat_columns=("k",), bloom_columns=("k",), bloom_fpp=0.001
    )
    t.create(spark.range(5000).selectExpr("id AS k").repartition(4))
    t.compact(spark, target_files=4, cluster_by=["k"])
    df_int, _ = t.read_pruned(spark, "k", equals=1234)
    df_float, info = t.read_pruned(spark, "k", equals=1234.0)
    assert df_int.count() == 1
    assert df_float.count() == 1, "integral-float probe must not prune the row away"
    # and the multi-column form agrees
    df_multi, _ = t.read_pruned_multi(spark, {"k": {"equals": 1234.0}})
    assert df_multi.count() == 1


def test_read_as_of_timestamp(spark, tmp_path):
    """Timestamp time-travel: version_as_of picks the newest commit at
    or before the asked time; reads between commits see the earlier
    snapshot; pre-creation timestamps raise."""
    import time as _time

    t = VersionedTable(tmp_path / "tbl")
    t.create(spark.range(3).selectExpr("id AS k"))
    ts0 = t.manifest(0)["committed_at_unix"]
    _time.sleep(0.05)
    between = _time.time()
    _time.sleep(0.05)
    t.overwrite(spark.range(10).selectExpr("id AS k"))
    ts1 = t.manifest(1)["committed_at_unix"]

    assert t.version_as_of(between) == 0
    assert t.read_as_of(spark, between).count() == 3
    assert t.version_as_of(ts1 + 1) == 1
    assert t.read_as_of(spark, ts1 + 1).count() == 10
    # exact boundary: a commit is visible AT its own timestamp
    assert t.version_as_of(ts0) == 0
    with pytest.raises(FileNotFoundError, match="existed at"):
        t.version_as_of(ts0 - 10)


# ---------------------------------------------------------------------------
# Pruned reads over both manifest forms
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def both_forms(spark, tmp_path_factory):
    """One table holding both manifest forms: v0 is a directory version
    (1 big file + 6 tiny ones), v1 its compact_small file list (the big
    file carried forward, the tiny ones packed), and v3 a restore of v1
    committed after an overwrite (v2)."""
    t = VersionedTable(
        tmp_path_factory.mktemp("forms") / "tbl", stat_columns=("k",), bloom_columns=("v",)
    )
    big = spark.range(20_000).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1)
    small = (
        spark.range(20_000, 20_060)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .repartition(6)
    )
    t.create(big.unionByName(small))
    assert t.compact_small(spark, target_bytes=64 << 10) == 1
    t.overwrite(spark.createDataFrame([(0, "x")], "k long, v string"))
    assert t.restore(1) == 3
    assert "file_paths" not in t.manifest(0)
    assert "file_paths" in t.manifest(1) and "file_paths" in t.manifest(3)
    return t


_PRUNED_READS = {
    "read_pruned": (
        lambda t, spark, v: t.read_pruned(spark, "k", lower=100, upper=300, version=v),
        "k BETWEEN 100 AND 300",
    ),
    "read_pruned_multi": (
        lambda t, spark, v: t.read_pruned_multi(
            spark, {"k": {"lower": 20_010}, "v": {"equals": "20030"}}, version=v
        ),
        "k >= 20010 AND v = '20030'",
    ),
    "read_pruned_in": (
        lambda t, spark, v: t.read_pruned_in(spark, "k", [12, 20_030, 99_999], version=v),
        "k IN (12, 20030, 99999)",
    ),
}


@pytest.mark.parametrize("version", [0, 1, 3], ids=["directory", "compact_small", "restored"])
@pytest.mark.parametrize("reader", sorted(_PRUNED_READS))
def test_pruned_reads_equal_full_scan_on_both_manifest_forms(spark, both_forms, reader, version):
    read, where = _PRUNED_READS[reader]
    df, info = read(both_forms, spark, version)
    assert info["pruned"] and info["files_read"] <= info["files_total"], info
    assert _rows(df) == _rows(both_forms.read(spark, version).filter(where))
    assert _rows(df)
