"""Versioned parquet tables: atomic MERGE commits without Delta/Iceberg.

ref: the reference relies on warehouse-native transactional MERGE —
dbt snapshot MERGE (snapshots/customer_email_scd.sql:1-12) and BigQuery
MERGE (Modelling/Incremental_load_template.sql:31-57). This environment
ships no transactional table format, so this module provides the
minimal log-structured equivalent, delta-lake style:

- data files are immutable parquet written by Spark's committer under
  ``data/``; a version is visible only once its small JSON manifest is
  created in ``_manifests/`` with O_EXCL — an atomic, last-step commit.
  Readers read exactly one version's files, so they get SNAPSHOT
  ISOLATION for free; a writer crash mid-write leaves an orphaned data
  dir but never a half-visible table;
- a manifest has one of two forms. A DIRECTORY version (create, merge,
  overwrite, delete, compact, publish) names its ``data_dir``, and its
  per-file ``files`` entries are relative to that directory. A
  FILE-LIST version (``compact_small``, and a ``restore`` of one) also
  names its files in ``file_paths``, and it and its entries are
  relative to the table root (``paths_relative_to: "table"``), so it
  can list files that other versions wrote;
- one resolver, ``VersionedTable._version_files``, turns either form
  into absolute paths; reads, pruned reads, compaction, vacuum and
  orphan collection all go through it;
- concurrent committers race on the same manifest name and exactly one
  O_EXCL create wins; the loser gets ``VersionConflictError`` and must
  re-read + retry (optimistic concurrency, same contract as Delta).
  On object stores, swap O_EXCL for a conditional PUT (if-none-match) —
  the protocol is unchanged;
- old versions stay readable (time travel) until ``vacuum``.

The DATA PLANE is untouched Spark parquet — scans keep columnar
pruning, predicate pushdown, and distributed writes; only the
control-plane commit (one small JSON per version) runs on the driver.
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import json
import math
import shutil
import time
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.incremental import merge_upsert

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


class StagedWrite:
    """Handle to an uncommitted (invisible) write; see
    :meth:`VersionedTable.stage`."""

    def __init__(self, table, data_dir, files, schema, txn_id):
        self.table = table
        self.data_dir = data_dir
        self.files = files
        self.schema = schema
        self.txn_id = txn_id

    def read(self, spark: "SparkSession") -> "DataFrame":
        """The staged snapshot, for audit queries. Uses the schema
        recorded at stage time — no parquet schema-inference job."""
        return _schema_reader(spark, self.schema).parquet(str(self.data_dir))


def _schema_reader(spark: SparkSession, schema: dict | list | None):
    """``spark.read`` with a recorded schema: a ``StructType.json()``
    document, or — in manifests written before it — ``[name,
    simpleString]`` pairs, read as DDL. simpleString leaves nested field
    names unquoted, so only the JSON form round-trips every name. With
    no recorded schema the reader infers it from the files."""
    reader = spark.read
    if isinstance(schema, dict):
        return reader.schema(StructType.fromJson(schema))
    if schema:
        return reader.schema(", ".join(f"`{name}` {dtype}" for name, dtype in schema))
    return reader


class VersionConflictError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


def _stat_value(v):
    """``v`` in the form the manifest stores stats in: an exact
    ``datetime.date`` becomes its ISO string, which orders like the
    date. Predicate bounds pass through this too, so they compare with
    stored stats."""
    return v.isoformat() if type(v) is datetime.date else v


def _json_stat(v):
    """Footer min/max -> JSON-storable value (None = not storable).

    Dates are stored as ISO strings (``_stat_value``). Timestamps
    (``datetime.datetime``, a ``date`` subclass) are not stored, so a
    timestamp column records no stats and is never pruned."""
    v = _stat_value(v)
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _file_column_stats(path: str, columns: tuple[str, ...]):
    """(path, n_rows, {col: [min, max]}) from ONE parquet footer —
    metadata only, no data pages. A column is omitted when any row
    group lacks min/max stats (pruning must stay sound)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col in columns:
        if col not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx[col]).statistics
            if s is None or not s.has_min_max:
                ok = False
                break
            mn, mx = _json_stat(s.min), _json_stat(s.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            stats[col] = [lo, hi]
    return path, md.num_rows, stats


def _bloom_canon(v) -> bytes:
    """Canonical hash input per value type — shared by build and probe,
    so a probe matches iff the stored value hashes identically. Type
    tags keep 1 and '1' (or 1.0) from aliasing."""
    if isinstance(v, bool):
        return b"t1" if v else b"t0"
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, float):
        # Integral floats canonicalize to the INT tag: parquet footers
        # record 1 for a bigint column while a caller may probe with
        # 1.0 — without this, the bloom answers "definitely absent"
        # (a silent wrong-rows prune, worse than a degraded plan).
        # NaN/inf keep the float tag (is_integer() is False).
        if v.is_integer():
            return b"i" + str(int(v)).encode()
        return b"f" + repr(v).encode()
    if isinstance(v, str):
        return b"s" + v.encode("utf-8")
    if isinstance(v, bytes):
        return b"b" + v
    raise TypeError(f"bloom: unhashable value type {type(v).__name__}")


def _bloom_hashes(v, k: int, m: int):
    """k bit positions via double hashing over one blake2b digest."""
    d = hashlib.blake2b(_bloom_canon(v), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd -> full cycle
    return ((h1 + i * h2) % m for i in range(k))


# Bitset cap per (file, column): 2^19 bits = 64 KiB of manifest payload.
# Past the cap the fpp degrades gracefully instead of the manifest
# bloating (at ~455k distinct values per file the capped fpp is ~1%).
_BLOOM_MAX_BITS = 1 << 19


def _bloom_build(values, fpp: float) -> dict:
    """Bloom bitset over the distinct values: standard sizing
    m = -n ln(p) / ln(2)^2, k = (m/n) ln 2, base64-encoded."""
    distinct = set(values)
    n = len(distinct)
    if n == 0:
        return {"m": 8, "k": 1, "b64": base64.b64encode(b"\x00").decode()}
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max(8, (m + 7) // 8 * 8), _BLOOM_MAX_BITS)
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray(m // 8)
    for v in distinct:
        for pos in _bloom_hashes(v, k, m):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_probe(bloom: dict, v) -> bool:
    """False = value DEFINITELY absent from the file; True = maybe."""
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_hashes(v, bloom["k"], bloom["m"])
    )


def _file_bloom_stats(path: str, columns: tuple[str, ...], fpp: float):
    """(path, {col: bloom}) — reads ONLY the bloom columns' data pages
    of one file (columnar projection). Unlike min/max this is a data
    pass, which is why bloom columns are opt-in: spend it on the
    high-cardinality point-lookup keys where min/max ranges overlap
    every file and can't prune."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[c for c in columns])
    blooms = {}
    for col in columns:
        if col not in t.column_names:
            continue
        vals = [v for v in t.column(col).to_pylist() if v is not None]
        blooms[col] = _bloom_build(vals, fpp)
    return path, blooms


def _file_may_match(entry: dict, column: str, lower=None, upper=None, values=None) -> bool:
    """The per-file skipping check: False only when the manifest
    entry's recorded stats prove that no row of the file has ``column``
    in [lower, upper] (either bound None = unbounded) or, when
    ``values`` is given, equal to one of them. The min/max range tests
    the bounds and each value; a bloom, where recorded, drops the values
    it says are definitely absent. A file without stats for the column
    is kept, so pruning stays sound."""
    rng = entry.get("stats", {}).get(column)
    if rng is not None:
        lo, hi = rng
        if upper is not None and lo > _stat_value(upper):
            return False
        if lower is not None and hi < _stat_value(lower):
            return False
        if values is not None:
            values = [v for v in values if lo <= _stat_value(v) <= hi]
    bloom = entry.get("bloom", {}).get(column)
    if values is not None and bloom is not None:
        values = [v for v in values if _bloom_probe(bloom, v)]
    return values is None or bool(values)


def _range_filter(df: DataFrame, column: str, lower=None, upper=None) -> DataFrame:
    """``df`` restricted to ``lower <= column <= upper`` (None = unbounded)."""
    from pyspark.sql import functions as F

    if lower is not None:
        df = df.filter(F.col(column) >= F.lit(lower))
    if upper is not None:
        df = df.filter(F.col(column) <= F.lit(upper))
    return df


def _align_merge_schemas(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Reconcile ADDITIVE schema drift between merge sides.

    Missing columns on either side become typed NULLs; the unified
    column order is target-first then new source columns (so the
    evolved table reads as "old schema plus appendix"). Merge keys must
    exist on both sides; a common column with differing types raises —
    type drift needs an explicit repair pass, not a silent cast.
    """
    from pyspark.sql import functions as F

    t_types = {f.name: f.dataType for f in target.schema.fields}
    s_types = {f.name: f.dataType for f in source.schema.fields}
    missing_keys = [k for k in keys if k not in t_types or k not in s_types]
    if missing_keys:
        raise ValueError(f"merge keys missing on one side: {missing_keys}")
    conflicts = {
        c: (t_types[c].simpleString(), s_types[c].simpleString())
        for c in t_types.keys() & s_types.keys()
        if t_types[c] != s_types[c]
    }
    if conflicts:
        raise ValueError(
            f"type drift on merge columns (repair explicitly): {conflicts}"
        )
    if t_types.keys() == s_types.keys():
        return target, source
    ordered = list(target.columns) + [
        c for c in source.columns if c not in t_types
    ]
    target = target.select(
        *[
            F.col(c) if c in t_types else F.lit(None).cast(s_types[c]).alias(c)
            for c in ordered
        ]
    )
    source = source.select(
        *[
            F.col(c) if c in s_types else F.lit(None).cast(t_types[c]).alias(c)
            for c in ordered
        ]
    )
    return target, source


class VersionedTable:
    """A path-addressed, versioned parquet table with atomic commits.

    ``stat_columns``: record per-FILE min/max for these columns in each
    commit's manifest (the Delta/Iceberg data-skipping analog — footer
    metadata only, no extra data pass). :meth:`read_pruned` then plans
    a scan over just the files whose range can intersect a predicate —
    after a ZORDER :meth:`compact` on the same columns, a point/range
    query touches a small fraction of files before Spark even opens
    them.

    ``bloom_columns``: additionally record a per-file BLOOM FILTER for
    these columns (``bloom_fpp`` false-positive rate). Min/max can't
    prune equality lookups on high-cardinality keys whose value range
    spans every file (ids, hashes, emails); a bloom answers "definitely
    not in this file" regardless of layout. Costs one columnar data
    pass at write time and <=64 KiB of manifest per (file, column) —
    the Delta/Iceberg puffin-bloom analog.
    """

    def __init__(
        self,
        path: str | Path,
        stat_columns: tuple[str, ...] = (),
        bloom_columns: tuple[str, ...] = (),
        bloom_fpp: float = 0.01,
    ):
        if not 0.0 < bloom_fpp < 1.0:
            raise ValueError(f"bloom_fpp must be in (0, 1), got {bloom_fpp}")
        self.path = Path(path)
        self.stat_columns = tuple(stat_columns)
        self.bloom_columns = tuple(bloom_columns)
        self.bloom_fpp = bloom_fpp

    # -- control plane ----------------------------------------------------

    def _manifest_path(self, version: int) -> Path:
        return self.path / _MANIFEST_DIR / f"{version:05d}.json"

    def versions(self) -> list[int]:
        mdir = self.path / _MANIFEST_DIR
        if not mdir.is_dir():
            return []
        return sorted(int(p.stem) for p in mdir.glob("[0-9]*.json"))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        return json.loads(self._manifest_path(version).read_text())

    def _head(self, version: int | None = None) -> int:
        """``version``, or the latest committed one when it is None;
        raises FileNotFoundError when the table has no version."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        return version

    def _txn_version(self, txn_id: str | None) -> int | None:
        """The newest retained version committed with ``txn_id``, or
        None. Reads every retained manifest (small driver-side JSONs,
        O(versions)); vacuum() shrinks that set, so replay protection
        reaches exactly as far back as the vacuum retention window."""
        if txn_id is not None:
            for v in reversed(self.versions()):
                if self.manifest(v).get("txn_id") == txn_id:
                    return v
        return None

    def _version_files(self, m: dict) -> tuple[list[str], list[dict]]:
        """Resolve one version's manifest ``m`` to absolute paths:
        ``(paths, entries)``. ``paths`` is what a scan of the version
        reads; ``entries`` are its per-file stat/bloom entries (empty
        when none were recorded), each with ``path`` made absolute.

        A directory version's ``paths`` is its one data directory, which
        Spark lists itself (given more than 32 explicit paths, Spark's
        file index lists them with an extra job); its entries are
        relative to that directory. A file-list version names its files
        in ``file_paths``, relative to the table root like its entries
        (``paths_relative_to: "table"``)."""
        data_dir = self.path / m["data_dir"]
        if "file_paths" in m:
            paths = [str(self.path / p) for p in m["file_paths"]]
        else:
            paths = [str(data_dir)]
        root = self.path if m.get("paths_relative_to") == "table" else data_dir
        entries = [{**e, "path": str(root / e["path"])} for e in m.get("files") or ()]
        return paths, entries

    def _commit(
        self,
        version: int,
        data_dir: Path,
        operation: str,
        txn_id: str | None = None,
        files: list[dict] | None = None,
        schema: dict | list | None = None,
        cleanup_on_conflict: bool = True,
        extra: dict | None = None,
    ) -> None:
        """Make ``version`` visible. Atomic: the manifest file either
        exists completely or not at all; O_EXCL create serializes
        racing writers. ``txn_id`` is an optional idempotence token
        recorded in the manifest (see :meth:`merge`); ``files`` is the
        optional per-file stats list (see ``stat_columns``); ``schema``
        is the committed schema (``StructType.json()``) so readers
        can see the schema history without opening data files."""
        import os

        mdir = self.path / _MANIFEST_DIR
        mdir.mkdir(parents=True, exist_ok=True)
        record = {
            "version": version,
            "data_dir": str(data_dir.relative_to(self.path)),
            "operation": operation,
            "txn_id": txn_id,
            "committed_at_unix": time.time(),
        }
        if schema is not None:
            record["schema"] = schema
        if files is not None:
            record["files"] = files
        if extra:
            record.update(extra)
        body = json.dumps(record)
        # Two-phase: write the body to a private tmp file, then link it
        # to the manifest name. link() is atomic AND fails with EEXIST,
        # so the version either appears with its complete body or not
        # at all — a crash mid-write leaves only an invisible tmp file,
        # never a visible empty manifest.
        tmp = mdir / f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(body)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            if cleanup_on_conflict:
                shutil.rmtree(data_dir, ignore_errors=True)  # our orphaned write
            raise VersionConflictError(
                f"version {version} was committed concurrently; retry from latest"
            ) from None
        finally:
            tmp.unlink(missing_ok=True)

    # -- data plane -------------------------------------------------------

    def _write_data_with_stats(
        self, df: DataFrame, data_dir: Path
    ) -> tuple[list[dict] | None, dict]:
        """Write ``df`` under ``data_dir`` and collect the per-file
        footer stats + schema every manifest records. Shared by the
        committed path (:meth:`_write_version`) and the staged path
        (:meth:`stage`) so the two cannot drift."""
        df.write.mode("errorifexists").parquet(str(data_dir))
        files = None
        if self.stat_columns or self.bloom_columns:
            # Footer-only stats pass over the files just written. Local
            # threads here; past readers._RDD_FOOTER_THRESHOLD files the
            # same map belongs on the cluster (sources/readers.py
            # _list_footers precedent) — footers are KBs, so either way
            # no data pages are re-read. Bloom columns ARE a data pass
            # (columnar projection of just those columns); at cluster
            # scale that map also belongs on executors.
            from concurrent.futures import ThreadPoolExecutor

            parts = sorted(str(p) for p in data_dir.glob("part-*.parquet"))
            with ThreadPoolExecutor(max_workers=min(32, max(1, len(parts)))) as pool:
                results = list(
                    pool.map(lambda p: _file_column_stats(p, self.stat_columns), parts)
                )
                blooms: dict[str, dict] = {}
                if self.bloom_columns:
                    blooms = dict(
                        pool.map(
                            lambda p: _file_bloom_stats(
                                p, self.bloom_columns, self.bloom_fpp
                            ),
                            parts,
                        )
                    )
            files = [
                {
                    "path": str(Path(p).relative_to(data_dir)),
                    "rows": rows,
                    "stats": stats,
                    **({"bloom": blooms[p]} if p in blooms else {}),
                }
                for p, rows, stats in results
            ]
        return files, json.loads(df.schema.json())

    def _write_version(
        self,
        df: DataFrame,
        version: int,
        operation: str,
        txn_id: str | None = None,
    ) -> int:
        # Unique dir per ATTEMPT: racing writers for the same version
        # never collide on the data path — only the manifest O_EXCL
        # race decides, and the loser removes its own orphan.
        data_dir = self.path / _DATA_DIR / f"v{version:05d}-{uuid.uuid4().hex[:8]}"
        files, schema = self._write_data_with_stats(df, data_dir)
        self._commit(
            version, data_dir, operation, txn_id=txn_id, files=files, schema=schema
        )
        return version

    def create(self, df: DataFrame) -> int:
        """Initial commit (version 0). Fails if the table exists."""
        if self.latest_version() is not None:
            raise ValueError(f"table already exists at {self.path}")
        return self._write_version(df, 0, "create")

    def overwrite(self, df: DataFrame) -> int:
        """Full-replace commit (the WRITE_TRUNCATE analog,
        ref: ETL/load_to_bigquery.py:73-80)."""
        latest = self.latest_version()
        if latest is None:
            return self._write_version(df, 0, "overwrite")
        return self._write_version(df, latest + 1, "overwrite")

    def delete_where(
        self,
        spark: SparkSession,
        predicate: Column | str,
        txn_id: str | None = None,
    ) -> int:
        """Row-level DELETE, completing the DML triad with merge/
        overwrite: rewrite the latest snapshot minus the matching rows
        as a new version (copy-on-write, the Delta DELETE strategy).
        SQL DELETE semantics: a row is removed only when the predicate
        is TRUE — NULL-predicate rows are KEPT, exactly as ANSI WHERE
        would keep them in the complement. Old versions stay
        time-travelable; :meth:`diff` reports the removed keys as
        ``change_type='delete'``. ``txn_id`` gives replay-exactly-once,
        same contract as merge()."""
        from pyspark.sql import functions as F

        latest = self._head()
        replayed = self._txn_version(txn_id)
        if replayed is not None:
            return replayed  # replayed delete: already applied
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        remaining = self.read(spark, latest).filter(
            ~F.coalesce(pred, F.lit(False))
        )
        return self._write_version(remaining, latest + 1, "delete", txn_id=txn_id)

    def gc_orphans(
        self,
        min_age_seconds: float = 86400.0,
        include_staged: bool = False,
    ) -> list[str]:
        """Remove data directories no manifest references (crashed
        writers, manifest-race losers that died before their own
        cleanup, WAP stages never published or aborted). Safe because
        a directory only becomes referenced ATOMICALLY when its
        manifest is created — anything unreferenced is either garbage
        or a still-in-flight write, and ``min_age_seconds`` (default
        1 day) spares the latter: an in-flight writer's directory
        mtime keeps advancing while files land, so only long-dead
        attempts age past the bar. Returns removed relative paths.

        ``staged-*`` directories (write-audit-publish stages, see
        :meth:`stage`) are SKIPPED by default: a staged write awaiting
        a slow audit is indistinguishable on disk from an abandoned
        one, and deleting it would let a later :meth:`publish` commit a
        manifest pointing at vanished data. Pass ``include_staged=True``
        to reclaim aged stages too (publish independently verifies the
        staged directory still holds files before committing)."""
        data_root = self.path / _DATA_DIR
        if not data_root.is_dir():
            return []
        referenced: set[Path] = set()
        for v in self.versions():
            m = self.manifest(v)
            referenced.add(self.path / m["data_dir"])  # even with no file in it
            referenced.update(Path(f).parent for f in self._version_abs_files(m))
        now = time.time()
        removed: list[str] = []
        for d in sorted(data_root.iterdir()):
            if not d.is_dir() or d in referenced:
                continue
            rel = str(d.relative_to(self.path))
            if not include_staged and d.name.startswith("staged-"):
                continue  # in-flight WAP stage; see docstring
            if now - d.stat().st_mtime < min_age_seconds:
                continue
            shutil.rmtree(d, ignore_errors=True)
            removed.append(rel)
        # Dead writers also leak their fsynced-but-never-linked private
        # manifest bodies (.tmp-*): a crash between the tmp write and
        # the os.link leaves one behind (the finally-unlink dies with
        # the process). They are invisible to readers — reap aged ones.
        mdir = self.path / _MANIFEST_DIR
        if mdir.is_dir():
            for f in sorted(mdir.glob(".tmp-*")):
                try:
                    if now - f.stat().st_mtime < min_age_seconds:
                        continue  # an in-flight commit, microseconds old
                    f.unlink()
                    removed.append(str(f.relative_to(self.path)))
                except OSError:
                    pass
        return removed

    def version_as_of(self, ts_unix: float) -> int:
        """Timestamp time-travel (the ``timestampAsOf`` analog): the
        newest version whose manifest ``committed_at_unix`` is <=
        ``ts_unix``. Raises if the table did not exist yet at that
        time. Commit timestamps are assigned at manifest-write time
        and versions are serialized by the O_EXCL race, so they are
        non-decreasing in version order; the scan reads only the tiny
        driver-side manifest JSONs (O(versions), same cost class as
        the txn replay scan)."""
        best: int | None = None
        for v in self.versions():
            if self.manifest(v).get("committed_at_unix", float("inf")) <= ts_unix:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version of {self.path} existed at unix time {ts_unix}"
            )
        return best

    def read_as_of(self, spark: SparkSession, ts_unix: float) -> DataFrame:
        """Snapshot read as of a COMMIT TIMESTAMP (see
        :meth:`version_as_of`)."""
        return self.read(spark, self.version_as_of(ts_unix))

    def _reader(self, spark: SparkSession, m: dict):
        """DataFrameReader for one version, with the schema its manifest
        recorded, so a snapshot read runs no parquet schema-inference
        job. Spark marks file-source schemas nullable either way, so the
        recorded schema is exactly the inferred one. Manifests without
        a recorded schema fall back to inference."""
        return _schema_reader(spark, m.get("schema"))

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read: latest (default) or time-travel to ``version``.

        A version committed by :meth:`compact_small` is a FILE LIST
        (untouched big files of the prior version + the newly packed
        files) rather than one directory — the manifest's
        ``file_paths`` names them and the scan plans exactly those."""
        m = self.manifest(self._head(version))
        return self._reader(spark, m).parquet(*self._version_files(m)[0])

    def _read_pruned(
        self,
        spark: SparkSession,
        version: int | None,
        keep: Callable[[dict], bool] | None,
        row_filter: Callable[[DataFrame], DataFrame],
    ) -> tuple[DataFrame, dict]:
        """The one pruned-scan planner: scan only the files of
        ``version`` (default latest) whose manifest entry passes
        ``keep``, then apply ``row_filter`` — pruning is an
        optimization, never the filter itself. A version without
        per-file entries is read whole (``pruned: False``). When no file
        is kept, or ``keep`` is None (no row can match), the result is
        the schema-preserving empty read: a false filter over the
        version, which opens footers only."""
        from pyspark.sql import functions as F

        m = self.manifest(self._head(version))
        paths, entries = self._version_files(m)
        reader = self._reader(spark, m)
        if keep is not None and not entries:
            df = row_filter(reader.parquet(*paths))
            return df, {"files_total": None, "files_read": None, "pruned": False}
        kept = [e["path"] for e in entries if keep is not None and keep(e)]
        info = {"files_total": len(entries) or None, "files_read": len(kept), "pruned": True}
        if not kept:
            return reader.parquet(*paths).filter(F.lit(False)), info
        return row_filter(reader.parquet(*kept)), info

    def read_pruned(
        self,
        spark: SparkSession,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
        equals=None,
    ) -> tuple[DataFrame, dict]:
        """Snapshot read planning only the files whose recorded
        [min, max] for ``column`` can intersect [lower, upper] (either
        bound may be None = unbounded). Returns (df, info) where info
        reports files_total / files_read; the value predicate is STILL
        applied to the result — manifest pruning is an optimization,
        never the filter itself, so a file lacking stats for the column
        is conservatively read.

        ``equals`` is the point-lookup form (mutually exclusive with
        lower/upper): range-prunes at [v, v] AND, when the manifest
        carries a bloom for the column (``bloom_columns``), drops every
        file whose bloom says the value is definitely absent — which
        prunes on high-cardinality keys even when every file's min/max
        range covers the whole key space.

        After ``compact(cluster_by=[column])`` file ranges are disjoint
        and a point lookup opens ~1 file; on an unclustered commit
        min/max pruning degrades toward the full list (blooms do not —
        they are layout-independent). Bounds must be the same primitive
        type the footer stats recorded (int/float/str, or
        ``datetime.date`` for a date column).
        """
        values = None
        if equals is not None:
            if lower is not None or upper is not None:
                raise ValueError("equals is mutually exclusive with lower/upper")
            lower = upper = equals
            values = [equals]
        return self._read_pruned(
            spark,
            version,
            lambda f: _file_may_match(f, column, lower, upper, values),
            lambda df: _range_filter(df, column, lower, upper),
        )

    def read_pruned_multi(
        self,
        spark: SparkSession,
        predicates: dict[str, dict],
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Conjunctive (AND) multi-column data skipping: prune a file
        when ANY predicate's stats/bloom rule it out — the real query
        shape (``date BETWEEN ... AND region = ...``) skips far more
        than any single column can, especially after a multi-column
        ZORDER compact where every clustered column carries tight
        per-file ranges.

        ``predicates`` maps column -> {"lower":, "upper":, "equals":}
        (any subset; ``equals`` is exclusive with the bounds, as in
        :meth:`read_pruned`). Semantics are identical per column; the
        value predicates are all still applied to the result, so
        pruning remains an optimization, never the filter."""
        norm: dict[str, tuple] = {}
        for col, p in predicates.items():
            unknown = set(p) - {"lower", "upper", "equals"}
            if unknown:
                raise ValueError(f"unknown predicate keys for {col}: {unknown}")
            eq = p.get("equals")
            lo, hi = p.get("lower"), p.get("upper")
            if eq is not None and (lo is not None or hi is not None):
                raise ValueError(f"{col}: equals is mutually exclusive with bounds")
            norm[col] = (lo, hi, None) if eq is None else (eq, eq, [eq])

        def _row_filter(df: DataFrame) -> DataFrame:
            for col, (lo, hi, _) in norm.items():
                df = _range_filter(df, col, lo, hi)
            return df

        return self._read_pruned(
            spark,
            version,
            lambda f: all(_file_may_match(f, c, *t) for c, t in norm.items()),
            _row_filter,
        )

    def read_pruned_in(
        self,
        spark: SparkSession,
        column: str,
        values,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Set-membership data skipping: ONE snapshot scan planning only
        the files whose recorded [min, max] for ``column`` contains AT
        LEAST ONE of ``values`` (bloom filters, when present, drop a
        file only if EVERY value is definitely absent). This is the
        inverted-list probe shape — ``WHERE centroid_id IN (probe
        lists)`` — as a single pruned read instead of a per-value
        read_pruned union: the plan has one parquet scan regardless of
        len(values), so probing 64 of 65k lists never builds a
        64-arm union on the driver.

        The IN predicate is still applied to the result (pruning is an
        optimization, never the filter); a file without stats for the
        column is conservatively read. An empty ``values`` returns the
        schema-preserving empty result (filter false over footers only).
        Returns (df, info) with files_total / files_read.
        """
        from pyspark.sql import functions as F

        vals = sorted(set(values))
        return self._read_pruned(
            spark,
            version,
            (lambda f: _file_may_match(f, column, values=vals)) if vals else None,
            lambda df: df.filter(F.col(column).isin(vals)),
        )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        order_by: list[Column] | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Transactional MERGE: source rows win on key collision
        (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT), committed as a
        new version atomically. Raises VersionConflictError if another
        writer commits first — re-call to retry on the fresh snapshot.

        ``txn_id`` makes the merge EXACTLY-ONCE under replay: if ANY
        retained committed version carries this token, the merge is a
        no-op returning that version — so a replayed batch is detected
        even when other writers or a compact() landed in between. The
        scan reads every retained manifest, so replay protection extends
        exactly as far back as the vacuum retention window — keep it
        longer than any possible replay horizon.

        Schema evolution: ADDITIVE drift
        is reconciled automatically — columns only the source carries
        are appended to the table (existing rows read as NULL) and
        columns only the target carries are NULL-filled on inserted
        rows, mirroring Delta's mergeSchema. The merge keys must exist
        on both sides, and a column present on both sides with a
        DIFFERENT type raises ValueError (silent cast drift is what the
        reference's normalize_parquet_run existed to repair — route
        such batches through ``sources/readers.py::reconcile_read``
        first). Old versions keep their committed schema: time travel
        reads each version's own files, and every manifest records its
        column list, so the schema history is inspectable without
        opening data.
        """
        base_version = self.latest_version()
        replayed = self._txn_version(txn_id)
        if replayed is not None:
            return replayed
        if base_version is None:
            # first commit: still dedupe the source by key priority
            target = source.filter("1 = 0")
            next_version, op = 0, "create"
        else:
            target = self.read(spark, base_version)
            next_version, op = base_version + 1, f"merge:{','.join(keys)}"
        target, source = _align_merge_schemas(target, source, keys)
        merged = merge_upsert(target, source, keys, order_by=order_by)
        return self._write_version(merged, next_version, op, txn_id=txn_id)

    # -- write-audit-publish ----------------------------------------------

    def stage(self, df: DataFrame, txn_id: str | None = None) -> "StagedWrite":
        """Write ``df``'s files WITHOUT committing a version: the data
        lands under a staging directory no manifest references, so
        readers cannot see it. Audit the staged snapshot with
        :meth:`StagedWrite.read`, then :meth:`publish` (atomic flip to
        the next version) or :meth:`abort` (delete the files). The
        Iceberg/Delta write-audit-publish pattern on the same manifest
        machinery every other commit uses."""
        data_dir = self.path / _DATA_DIR / f"staged-{uuid.uuid4().hex[:12]}"
        files, schema = self._write_data_with_stats(df, data_dir)
        return StagedWrite(self, data_dir, files, schema, txn_id)

    def publish(self, staged: "StagedWrite", operation: str = "wap-publish") -> int:
        """Atomically make a staged write the next table version. Safe
        under concurrent committers: a manifest race does NOT delete
        the staged files (cleanup_on_conflict=False) — publish simply
        retries at the new head, because the staged snapshot is
        self-contained (full-replace semantics, like overwrite).

        Like :meth:`merge`, a ``txn_id`` on the staged write makes the
        publish EXACTLY-ONCE under replay: if any retained manifest
        already carries the token, publish returns that version as a
        no-op (and drops the now-redundant staged files) instead of
        committing a duplicate."""
        replayed = self._txn_version(staged.txn_id)
        if replayed is not None:
            self.abort(staged)
            return replayed
        # Never commit a manifest pointing at vanished data: a gc run
        # (gc_orphans(include_staged=True)) or stray cleanup between
        # stage() and publish() must fail HERE, not at first read.
        # EVERY path the stage recorded must still exist — a crash
        # mid-rmtree that leaves one survivor is still vanished data
        # (round-9 ADVICE: the old any-glob check passed a partially
        # deleted stage). A legitimately empty snapshot recorded zero
        # files and passes; stat-less stages (files is None) fall back
        # to the directory check.
        missing = (
            [
                f["path"]
                for f in staged.files
                if not (staged.data_dir / f["path"]).exists()
            ]
            if staged.files
            else []
        )
        if not staged.data_dir.is_dir() or missing:
            raise FileNotFoundError(
                f"staged directory {staged.data_dir} lost data files "
                f"(missing: {missing[:3] if missing else 'directory'}; "
                "garbage-collected or aborted?); re-stage the write"
            )
        while True:
            latest = self.latest_version()
            version = 0 if latest is None else latest + 1
            try:
                self._commit(
                    version,
                    staged.data_dir,
                    operation,
                    txn_id=staged.txn_id,
                    files=staged.files,
                    schema=staged.schema,
                    cleanup_on_conflict=False,
                )
                return version
            except VersionConflictError:
                continue

    def abort(self, staged: "StagedWrite") -> None:
        """Drop a staged write that failed its audit."""
        shutil.rmtree(staged.data_dir, ignore_errors=True)

    def write_audit_publish(
        self,
        df: DataFrame,
        checks: list[tuple[str, "callable"]],
        operation: str = "wap-publish",
        txn_id: str | None = None,
    ) -> tuple[int | None, dict[str, bool]]:
        """Stage ``df``, run every (name, check) against the STAGED
        data (checks read the actual files that would become the
        version, not the logical plan — a flaky upstream cannot pass
        audit with different bytes than it publishes), publish only if
        all pass. Returns (published version or None, per-check
        results); on failure the table head is untouched and the
        staged files are gone."""
        staged = self.stage(df, txn_id=txn_id)
        staged_df = staged.read(df.sparkSession)
        results: dict[str, bool] = {}
        ok = True
        try:
            for name, check in checks:
                passed = bool(check(staged_df))
                results[name] = passed
                ok = ok and passed
        except BaseException:
            # A raising check (e.g. an AnalysisException inside the
            # callback) must not strand unreferenced staged files on
            # disk — no manifest points at them, so vacuum() could
            # never reclaim them.
            self.abort(staged)
            raise
        if not ok:
            self.abort(staged)
            return None, results
        return self.publish(staged, operation=operation), results

    def diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        keys: list[str],
        with_old: bool = False,
    ) -> DataFrame:
        """Change-data-feed between two snapshots: one row per changed
        key with ``change_type`` in {insert, update, delete}.

        Computed as a key-outer join of the two immutable snapshots —
        no change log needs to be written on the ingest path, and the
        join shuffles only the two snapshots on their merge keys (the
        same partitioning MERGE itself used). Values are the new row's
        for insert/update and the old row's for delete. With
        ``with_old=True`` every value column is additionally emitted as
        ``old_<col>`` (NULL for inserts) — the form downstream
        incremental aggregate maintenance needs to subtract the old
        contribution (see operators/incremental.py::maintain_sum_agg).
        """
        from pyspark.sql import functions as F

        old = self.read(spark, v_from)
        new = self.read(spark, v_to)
        value_cols = [c for c in new.columns if c not in keys]
        o = old.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.struct(*value_cols).alias("__old"),
        )
        n = new.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.struct(*value_cols).alias("__new"),
        )
        j = o.join(n, [f"__k_{k}" for k in keys], "full_outer")
        change = (
            F.when(F.col("__old").isNull(), F.lit("insert"))
            .when(F.col("__new").isNull(), F.lit("delete"))
            .when(~F.col("__new").eqNullSafe(F.col("__old")), F.lit("update"))
        )
        picked = F.coalesce(F.col("__new"), F.col("__old"))
        old_cols = (
            [F.col("__old").getField(c).alias(f"old_{c}") for c in value_cols]
            if with_old
            else []
        )
        return (
            j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select(
                *[F.col(f"__k_{k}").alias(k) for k in keys],
                "change_type",
                *[picked.getField(c).alias(c) for c in value_cols],
                *old_cols,
            )
        )

    def compact(
        self,
        spark: SparkSession,
        target_files: int,
        cluster_by: list[str] | None = None,
        bits: int = 16,
    ) -> int:
        """Rewrite the latest snapshot into ``target_files`` files as a
        new version (the small-files OPTIMIZE pass).

        Ingest (especially streaming MERGE) accretes many small files;
        scans then pay per-file open/footer costs. Plain compaction
        uses coalesce() — a NARROW rewrite, no shuffle — and commits
        through the same atomic manifest path, so readers flip from the
        fragmented snapshot to the compacted one atomically and old
        versions stay time-travelable until vacuum.

        With ``cluster_by``, the rewrite is the OPTIMIZE ZORDER analog:
        rows range-partition and sort on the Morton interleave of the
        given numeric columns (one wide shuffle — the price of
        clustering), so subsequent scans prune files AND row groups via
        parquet min/max stats on every clustered column."""
        latest = self._head()
        df = self.read(spark, latest)
        if cluster_by:
            from pyspark.sql import functions as F

            from .writers import zorder_key

            out, z = zorder_key(df, cluster_by, bits=bits)
            df = (
                out.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            op = f"compact+zorder:{target_files}:{','.join(cluster_by)}"
        else:
            df = df.coalesce(target_files)
            op = f"compact:{target_files}"
        return self._write_version(df, latest + 1, op)

    def compact_small(
        self,
        spark: SparkSession,
        target_bytes: int = 128 << 20,
        min_files: int = 2,
    ) -> int:
        """Incremental OPTIMIZE: bin-pack ONLY the small files.

        :meth:`compact` rewrites the whole snapshot — O(table) every
        time, which a 100 TB table cannot pay per maintenance cycle.
        This pass reads just the files under ``target_bytes // 2``,
        packs them into ~``target_bytes`` outputs, and commits a
        manifest that lists the UNTOUCHED big files alongside the new
        packed ones (``file_paths``, table-root-relative) — cost is
        O(small-file bytes), the steady-state accretion of streaming
        MERGE ingest, never the accumulated table. Untouched files'
        stat/bloom entries carry forward so data skipping keeps
        working; vacuum is file-level reference-aware, so dropping the
        pre-compact version never deletes the carried-forward files.

        Returns the new version (or the current one when fewer than
        ``min_files`` small files exist — a no-op needs no commit)."""
        import os

        latest = self._head()
        m = self.manifest(latest)
        all_files = sorted(self._version_abs_files(m))
        sizes = {f: os.path.getsize(f) for f in all_files}
        small = [f for f in all_files if sizes[f] < target_bytes // 2]
        if len(small) < min_files:
            return latest
        big = [f for f in all_files if f not in set(small)]
        n_out = max(1, -(-sum(sizes[f] for f in small) // target_bytes))
        packed = self._reader(spark, m).parquet(*small).coalesce(n_out)
        data_dir = (
            self.path / _DATA_DIR / f"v{latest + 1:05d}-{uuid.uuid4().hex[:8]}"
        )
        files, schema = self._write_data_with_stats(packed, data_dir)
        live = big + sorted(str(p) for p in data_dir.glob("part-*.parquet"))
        _, prior_entries = self._version_files(m)
        big_set = set(big)
        entries = [{**e, "path": str(data_dir / e["path"])} for e in files or ()]
        # carry the untouched files' skipping stats
        entries += [e for e in prior_entries if e["path"] in big_set]
        # COMPLETENESS INVARIANT: read_pruned/read_pruned_multi treat a
        # non-empty 'files' list as the version's COMPLETE file set, so
        # every live path in file_paths MUST hold an entry. Config
        # drift breaks that in both directions — a prior version with
        # no per-file entries (stats enabled later) leaves the
        # carried-forward big files uncovered; stats disabled later
        # leaves the newly packed files uncovered. Synthesize stat-less
        # entries for any uncovered file: pruning degrades to "always
        # read" for them (sound) instead of silently dropping rows.
        if entries:
            covered = {e["path"] for e in entries}
            entries += [{"path": p, "stats": {}} for p in live if p not in covered]

        def rel(p: str) -> str:
            return str(Path(p).relative_to(self.path))

        self._commit(
            latest + 1,
            data_dir,
            f"compact-small:{n_out}",
            files=[{**e, "path": rel(e["path"])} for e in entries] or None,
            schema=schema,
            extra={"file_paths": [rel(p) for p in live], "paths_relative_to": "table"},
        )
        return latest + 1

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (the
        RESTORE statement): a metadata-only operation — the new
        manifest points at the restored version's existing immutable
        data directory, so no data is copied and the restore is O(1)
        regardless of table size. History is preserved (the bad
        versions stay time-travelable until vacuum; vacuum is
        reference-aware, so sharing a data dir across manifests is
        safe)."""
        src = self.manifest(version)  # raises if the version is gone
        latest = self.latest_version()
        assert latest is not None
        next_version = latest + 1
        extra = {
            k: src[k]
            for k in ("file_paths", "paths_relative_to")
            if k in src
        }
        self._commit(
            next_version,
            self.path / src["data_dir"],
            f"restore:{version}",
            files=src.get("files"),
            schema=src.get("schema"),
            cleanup_on_conflict=False,  # the data dir belongs to `version`
            extra=extra,
        )
        return next_version

    def _version_abs_files(self, m: dict) -> set[str]:
        """Absolute data files a manifest references: a file-list
        version's files, or the parquet files in a directory version's
        directory."""
        paths, _ = self._version_files(m)
        if "file_paths" in m:
            return set(paths)
        return {str(p) for p in Path(paths[0]).glob("*.parquet")}

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (manifest +
        data). Returns the removed version numbers. Reference-aware at
        the FILE level: a data file still referenced by ANY retained
        manifest — a dir shared by a metadata-only :meth:`restore`, or
        untouched big files carried forward by :meth:`compact_small` —
        survives dropping the version that first wrote it."""
        import os

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        doomed = vs[:-keep_last]
        retained: set[str] = set()
        for v in vs[-keep_last:]:
            retained |= self._version_abs_files(self.manifest(v))
        for v in doomed:
            m = self.manifest(v)
            # manifest FIRST: once the version is invisible, a crash
            # before (or during) the data delete just leaves an orphan
            # dir — never a listed version with missing data.
            self._manifest_path(v).unlink()
            for f in self._version_abs_files(m) - retained:
                try:
                    os.remove(f)
                except FileNotFoundError:
                    pass
            d = self.path / m["data_dir"]
            if d.is_dir() and not any(d.glob("*.parquet")):
                shutil.rmtree(d, ignore_errors=True)  # only committer sidecars left
        return doomed
