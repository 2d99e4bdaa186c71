"""Gate queries over the table-lifecycle machinery.

Every other contract query exercises a read-only plan; these two drive
the repo's WRITE surfaces end-to-end under the external oracle gate:

- ``s1_chunked_export_roundtrip``: the custom chunked-export
  DataSource (SURVEY §2.1 S1 — the analog of the reference's
  keyset-paginated Mongo export, ref: ETL/export_to_gcs.py:191-195
  chunk writer / :327-357 paging loop) written AND read back through
  ``df.write.format("chunked_export")``.
- ``s11_versioned_lifecycle``: the transactional VersionedTable DML
  triad (SURVEY §2.1 S11 — the warehouse MERGE analog, ref:
  Modelling/Incremental_load_template.sql:1-30) run as a lifecycle:
  create -> MERGE -> DELETE WHERE -> incremental compact_small ->
  multi-column pruned read, with the DuckDB oracle restating the same
  insert/update/delete algebra over the raw table.

Both land their scratch tables under the system temp dir (wiped and
rebuilt per call, keyed on (sf_dir, pid), so repeated driver/bench
invocations are deterministic, isolated per scale factor, AND safe
against a concurrent gate/bench process wiping a directory whose
files this process's returned DataFrame still lazily reads — the
round-9 ADVICE race).

Timing note (round-9 ADVICE): the writes execute EAGERLY when the
query function is called — they are actions, not part of the returned
lazy plan. Both bench harnesses (bench.py and scripts/bench_compare.py)
invoke the query FUNCTION inside the timed loop on every rep, so each
timed rep re-runs the full lifecycle (writes + commits + read-back);
the recorded spark_sec covers the whole lifecycle, not just the final
read. Anything that merely re-forces a previously returned DataFrame
would time only the read-back aggregate.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core_queries import _Q1_ORACLE, _q1_aggs, _q1_columns, cents
from .registry import query, table


def _scratch(name: str, sf_dir: str) -> Path:
    """Fresh per-(query, sf_dir, pid) scratch directory.

    The pid in the path keeps two concurrent gate/bench processes on
    the same sf_dir from wiping each other's live files mid-read.
    Stale siblings (same query+sf tag, different pid, older than an
    hour, AND whose owning pid is no longer alive) are cleaned up
    best-effort — the liveness check keeps a >1h-running concurrent
    gate/bench process's scratch readable by its lazy DataFrames."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = Path(tempfile.gettempdir()) / "spark_graft_scratch"
    p = root / f"{name}-{tag}-{os.getpid()}"
    shutil.rmtree(p, ignore_errors=True)
    root.mkdir(parents=True, exist_ok=True)
    cutoff = time.time() - 3600
    for sib in root.glob(f"{name}-{tag}-*"):
        if sib == p:
            continue
        try:
            sib_pid = int(sib.name.rsplit("-", 1)[-1])
        except ValueError:
            sib_pid = None
        if sib_pid is not None:
            try:
                os.kill(sib_pid, 0)
                continue  # owner still alive: never reap a live scratch
            except ProcessLookupError:
                pass  # owner dead: eligible for age-gated cleanup
            except PermissionError:
                continue  # alive, owned by another user
        try:
            if sib.stat().st_mtime < cutoff:
                shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            pass
    return p


@query(
    "s1_chunked_export_roundtrip",
    oracle="""
    SELECT o_orderkey % 10 AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           MIN(o_orderpriority) AS priority_min
    FROM orders
    GROUP BY o_orderkey % 10
    """,
)
def s1_chunked_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-export connector roundtrip (S1): write orders through
    ``chunked_export`` (one JSONL chunk per partition + atomic rename +
    manifest — the reference's export layout), read the chunk directory
    back through the same DataSource, and aggregate. The oracle runs the
    identical aggregate on the source parquet, so a single dropped/duplicated
    row or a type-degrading JSON roundtrip breaks the value hash."""
    from ..sources.chunked_source import ChunkedExportDataSource

    spark.dataSource.register(ChunkedExportDataSource)
    dst = _scratch("s1_chunked_export_roundtrip", sf_dir)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    (
        o.repartition(4)
        .write.format("chunked_export")
        .option("path", str(dst))
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("chunked_export")
        .schema("o_orderkey long, o_custkey long, o_orderpriority string")
        .option("path", str(dst))
        .load()
    )
    return back.groupBy((F.col("o_orderkey") % 10).alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
        F.min("o_orderpriority").alias("priority_min"),
    )


def _s11_versions(
    spark: SparkSession, t, o: DataFrame, parts: int, delete: str
) -> tuple[int, int, int]:
    """Commit the s11 lifecycle's first three versions of ``t`` from the
    orders frame ``o``: v0 the history load (before 1997) in ``parts``
    files, v1 the lookback re-extract (from 1996-07) MERGEd on the order
    key with the source winning, v2 a DELETE WHERE ``delete``. Rows carry
    exact cents, an ISO date and the load that wrote them — the algebra
    ``_S11_MERGED`` restates."""

    def shape(df: DataFrame, from_source: int) -> DataFrame:
        return df.select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("total_cents"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.lit(from_source).alias("from_source"),
        )

    v0 = t.create(shape(o.filter(F.col("o_orderdate") < "1997-01-01"), 0).repartition(parts))
    v1 = t.merge(
        spark,
        shape(o.filter(F.col("o_orderdate") >= "1996-07-01"), 1),
        keys=["o_orderkey"],
    )
    return v0, v1, t.delete_where(spark, delete)


# The s11 oracles' shared algebra: the v0 history load, the lookback
# re-extract, and the MERGE (source wins on key) as a row_number upsert.
_S11_MERGED = """
    WITH tgt AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
             0 AS from_source
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    src AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
             1 AS from_source
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01'
    ),
    merged AS (
      SELECT o_orderkey, o_custkey, total_cents, order_date, from_source
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY from_source DESC
        ) AS rn
        FROM (SELECT * FROM tgt UNION ALL SELECT * FROM src)
      ) WHERE rn = 1
    )"""


@query(
    "s11_cdc_diff",
    oracle=f"""{_S11_MERGED},
    v2 AS (
      SELECT * FROM merged WHERE NOT (o_orderkey % 7 = 0)
    ),
    j AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.o_custkey    IS DISTINCT FROM b.o_custkey
                    OR a.total_cents  IS DISTINCT FROM b.total_cents
                    OR a.order_date   IS DISTINCT FROM b.order_date
                    OR a.from_source  IS DISTINCT FROM b.from_source
                       THEN 'update'
             END AS change_type,
             COALESCE(b.o_custkey,   a.o_custkey)   AS o_custkey,
             COALESCE(b.total_cents, a.total_cents) AS total_cents,
             COALESCE(b.order_date,  a.order_date)  AS order_date,
             COALESCE(b.from_source, a.from_source) AS from_source
      FROM tgt a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT o_orderkey, change_type, o_custkey, total_cents, order_date,
           from_source
    FROM j WHERE change_type IS NOT NULL
    """,
)
def s11_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read over the VersionedTable (the Delta CDF
    analog; ``sources/versioned.py::diff``): create v0 (history) ->
    MERGE v1 (lookback re-extract, source wins) -> DELETE v2, then
    read the per-key change set diff(v0 -> v2) — inserts (new keys),
    updates (overlap keys whose re-extract changed values), deletes
    (the DELETE's keys). diff() is computed as a key-outer join of the
    two immutable snapshots (no change log written on ingest; the join
    shuffles only on the merge keys), which is exactly what the oracle
    restates: the same two snapshots FULL OUTER JOINed with null-safe
    value comparison. This is the read surface streaming incremental
    view maintenance consumes (streaming/joins.py, maintain_sum_agg).
    Ref: the reference's incremental MERGE template implies exactly
    this delta between consecutive loads
    (Modelling/Incremental_load_template.sql)."""
    from ..sources.versioned import VersionedTable

    t = VersionedTable(_scratch("s11_cdc_diff", sf_dir))
    o = table(spark, sf_dir, "orders")
    _, _, v2 = _s11_versions(spark, t, o, 4, "o_orderkey % 7 = 0")
    return t.diff(spark, 0, v2, keys=["o_orderkey"])


@query(
    "s11_incremental_view",
    oracle=f"""{_S11_MERGED},
    v2 AS (
      SELECT * FROM merged WHERE NOT (o_orderkey % 7 = 0)
    )
    SELECT substr(order_date, 1, 7) AS month,
           from_source,
           CAST(SUM(total_cents) AS BIGINT) AS total_cents,
           COUNT(*) AS n_rows
    FROM v2 GROUP BY 1, 2
    """,
)
def s11_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, end-to-end external:
    materialize a (month, from_source) sum/count rollup from v0, then
    refresh it through TWO change feeds (the MERGE's and the DELETE's
    ``diff(with_old=True)``) via ``operators/incremental.py::
    maintain_sum_agg`` — never rescanning the fact. The oracle simply
    aggregates the FINAL restated snapshot, so the maintained view is
    checked for bit-equality against a full recompute, across updates
    that MOVE rows between groups (from_source flips 0 -> 1) and
    deletes that shrink groups. This is the warehouse's per-microbatch
    refresh path (ref: the reference's incremental template implies
    re-aggregation after each MERGE; this does it in O(changes))."""
    from ..operators.incremental import maintain_sum_agg
    from ..sources.versioned import VersionedTable

    t = VersionedTable(_scratch("s11_incremental_view", sf_dir))
    o = table(spark, sf_dir, "orders")
    versions = _s11_versions(spark, t, o, 4, "o_orderkey % 7 = 0")
    mat = t.read(spark, versions[0]).groupBy(
        F.substring("order_date", 1, 7).alias("month"), "from_source"
    ).agg(
        F.sum("total_cents").alias("total_cents"),
        F.count("*").alias("n_rows"),
    )
    # refresh through each commit's change feed, never rescanning the fact
    for old, new in zip(versions, versions[1:]):
        cdc = t.diff(spark, old, new, keys=["o_orderkey"], with_old=True).withColumn(
            "month", F.substring("order_date", 1, 7)
        ).withColumn("old_month", F.substring("old_order_date", 1, 7))
        mat = maintain_sum_agg(
            mat, cdc, ["month", "from_source"], ["total_cents"]
        )
    return mat


@query("q1_coded_layout", oracle=_Q1_ORACLE)
def q1_coded_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1 over the dictionary-coded TYPED warehouse layout (VERDICT r8
    ask #2): the staging layer writes ``l_returnflag``/``l_linestatus``
    as tinyint codes plus two broadcast-sized decode dims
    (``functions/dictcodes.py``) AND money as exact integer cents
    (qty/price_c/disc_c/tax_c longs — the same cast-at-ingest the
    reference's staging models perform, ref: Modelling/stg_order.sql
    typed projections, and the cents() discipline every mart query
    here already uses). The hot aggregate then groups 100% of the fact
    rows on 1-byte integers, sums pure longs (no per-row double->cents
    conversion), and the strings materialize exactly once per GROUP
    via the decode join after aggregation. Same oracle as
    ``q1_pricing_summary`` restated from the ORIGINAL table — the
    layout is a physical decision, the answer is identical. The sf10
    measurement lives in SCALE.md (``scripts/q1_coded.py``); this gate
    row proves the write->read->agg->decode lifecycle end-to-end
    against the external oracle."""
    from ..functions.dictcodes import (
        decode_after_agg_inline,
        dict_encode_columns,
    )

    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        cents(F.col("l_discount")).alias("disc_c"),
        cents(F.col("l_tax")).alias("tax_c"),
        "l_shipdate",
    )
    coded, dims = dict_encode_columns(l, ["l_returnflag", "l_linestatus"])
    dst = _scratch("q1_coded_layout", sf_dir)
    coded.write.parquet(str(dst / "lineitem_coded.parquet"))
    for c, dim in dims.items():
        dim.write.parquet(str(dst / f"dim_{c}.parquet"))

    # declared schema (the catalog-backed-table shape): skips per-call
    # footer schema inference on the multi-file layout.
    lc = spark.read.schema(coded.schema).parquet(
        str(dst / "lineitem_coded.parquet")
    )
    read_dims = {
        c: spark.read.parquet(str(dst / f"dim_{c}.parquet"))
        for c in ("l_returnflag", "l_linestatus")
    }
    agg = (
        lc.filter(F.col("l_shipdate") < F.lit("2001-09-03").cast("timestamp_ntz"))
        .groupBy("l_returnflag_code", "l_linestatus_code")
        .agg(*_q1_aggs(*map(F.col, ("qty", "price_c", "disc_c", "tax_c"))))
    )
    # inline decode: two bounded (<=256-row) dim collects + literal map
    # lookups on the 6 post-aggregate rows — no join jobs (the measured
    # per-query constant of re-broadcasting static metadata; SCALE.md).
    return decode_after_agg_inline(agg, read_dims).select(*_q1_columns())


@query(
    "s11_time_travel_restore",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
             0 AS from_source
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 5 = 0
    ),
    src AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
             1 AS from_source
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderkey % 5 = 0
    ),
    merged AS (
      SELECT o_orderkey, o_custkey, total_cents, from_source
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY from_source DESC
        ) AS rn
        FROM (SELECT * FROM tgt UNION ALL SELECT * FROM src)
      ) WHERE rn = 1
    ),
    after_delete AS (
      SELECT * FROM merged WHERE NOT (o_custkey % 3 = 0)
    )
    SELECT 'v1_asof' AS leg, * FROM merged
    UNION ALL
    SELECT 'v2_head' AS leg, * FROM after_delete
    UNION ALL
    SELECT 'restored' AS leg, * FROM merged
    """,
)
def s11_time_travel_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionedTable TIME TRAVEL + RESTORE under the external oracle
    gate (new round 13 — the Delta/Iceberg `VERSION AS OF` / `RESTORE`
    surface the lifecycle rows did not yet prove externally): create(v0
    history) -> MERGE(v1, source wins) -> DELETE WHERE(v2) ->
    restore(v1) committing v3, then read THREE versions of the same
    table in one result:

    - ``v1_asof``   = ``read(version=1)`` — time travel PAST the delete
      back to the post-merge state;
    - ``v2_head``   = ``read(version=2)`` — the pre-restore head, still
      readable AFTER restore moved the head (immutable history);
    - ``restored``  = ``read()`` — the new head v3, whose content must
      be bit-identical to v1 (restore is a metadata re-commit of v1's
      files, not a rewrite).

    The oracle restates the merge and delete algebra declaratively and
    expects `v1_asof` == `restored` row-for-row — so a restore that
    rewrote/duplicated data, a version read that leaked another
    version's files, or a delete applied in-place (mutating v1's
    files) all flip the hash. Versions are addressed by number, not
    wall-clock, so the gate is deterministic (`read_as_of`'s timestamp
    resolution is pinned in tests/test_versioned.py).

    100 TB shape: time travel and restore are pure manifest operations
    (one tiny JSON read / one manifest re-commit listing v1's files by
    reference); no data is copied, so the gate's cost is three reads of
    the same ~N rows. Ref: the reference's BigQuery snapshot-decorator
    reads (SURVEY §2.1 S11 note)."""
    from ..sources.versioned import VersionedTable

    t = VersionedTable(_scratch("s11_time_travel_restore", sf_dir))
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    _s11_versions(spark, t, o, 1, "o_custkey % 3 = 0")
    t.restore(1)
    cols = ["o_orderkey", "o_custkey", "total_cents", "from_source"]
    v1 = t.read(spark, version=1).select(F.lit("v1_asof").alias("leg"), *cols)
    v2 = t.read(spark, version=2).select(F.lit("v2_head").alias("leg"), *cols)
    head = t.read(spark).select(F.lit("restored").alias("leg"), *cols)
    return v1.unionByName(v2).unionByName(head)


@query(
    "s11_versioned_lifecycle",
    oracle=f"""{_S11_MERGED},
    after_delete AS (
      SELECT * FROM merged WHERE NOT (o_orderkey % 7 = 0)
    )
    SELECT o_orderkey, o_custkey, total_cents, order_date, from_source
    FROM after_delete
    WHERE o_orderkey <= 30000 AND o_custkey >= 100
    """,
)
def s11_versioned_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionedTable DML lifecycle (S11): create(history) ->
    MERGE(lookback re-extract, source wins) -> DELETE WHERE ->
    compact_small (incremental bin-pack: untouched files carried
    forward by reference) -> read_pruned_multi (conjunctive stats
    skipping). The oracle restates the same algebra declaratively —
    upsert via row_number over the union, delete via the predicate
    complement, and the pruned read's value predicates — so any row the
    lifecycle loses (a compaction dropping a carried-forward file, a
    pruned read skipping a live file) or resurrects (delete not applied
    to the packed files) flips the hash. Ref: the reference's MERGE +
    3-day lookback template (Modelling/Incremental_load_template.sql)
    and its BigQuery table lifecycle."""
    from ..sources.versioned import VersionedTable

    t = VersionedTable(
        _scratch("s11_versioned_lifecycle", sf_dir),
        stat_columns=("o_orderkey", "o_custkey"),
    )
    o = table(spark, sf_dir, "orders")
    # v0 is deliberately fragmented (8 files) so compact_small has small
    # files to pack (streaming-ingest steady state).
    _s11_versions(spark, t, o, 8, "o_orderkey % 7 = 0")
    # v3: incremental OPTIMIZE — packs the small files, carries the
    # rest forward by reference (O(small bytes), never O(table)).
    t.compact_small(spark, target_bytes=64 << 20, min_files=2)
    # Final read through conjunctive multi-column data skipping; the
    # value predicates are re-applied, so pruning stays an optimization.
    df, _info = t.read_pruned_multi(
        spark,
        {"o_orderkey": {"upper": 30000}, "o_custkey": {"lower": 100}},
    )
    return df.select(
        "o_orderkey", "o_custkey", "total_cents", "order_date", "from_source"
    )
