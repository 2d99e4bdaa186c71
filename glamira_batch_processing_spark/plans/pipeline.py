"""A minimal dbt-like model pipeline on Spark DataFrames.

The reference's "engine" is dbt rendering SQL models into a DAG of
views/tables (SURVEY.md §3.1). Here a model is a named function
``(Pipeline) -> DataFrame``; ``ref()`` resolves dependencies and the
materialization decides whether the plan stays lazy (view — Catalyst
inlines it downstream, exactly like BigQuery inlining staging views) or
is persisted to parquet (table/snapshot — cuts recomputation and gives
marts a stable scan).

``run()`` builds the requested models concurrently, one Python thread
per model — the analog of dbt's ``threads``: independent models' Spark
jobs share the cores instead of queueing behind each other. ``ref()``
stays serial: it builds a model and its missing dependencies in the
calling thread, and when another thread is already building a model it
waits for that build instead of starting a second one.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


def _parquet_footer_rows(path: str) -> int:
    """Row count of a written parquet directory from file footers only.

    ``num_rows`` lives in each file's footer metadata, so this is a
    driver-side metadata read — no Spark job, no data scan. Replaces
    the per-table ``df.count()`` that added a full extra job to every
    table materialization (ADVICE r5: a contributor to the round-5
    driver-bench regression).
    """
    from pathlib import Path

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in Path(path).rglob("*.parquet")
        if f.is_file()
    )


class UpstreamError(RuntimeError):
    """Raised in a model that waited for a dependency whose build, in
    another thread, failed; ``__cause__`` is that build's exception."""


@dataclass
class _Claim:
    """A model being built: the building thread, and the outcome that
    waiting threads read once ``done`` is set."""

    owner: int
    done: threading.Event = field(default_factory=threading.Event)
    error: BaseException | None = None


@dataclass
class _Frame:
    """One model on a thread's build stack."""

    name: str
    nested_s: float = 0.0  # time inside ref() calls made by its function


@dataclass
class Model:
    name: str
    fn: Callable[["Pipeline"], DataFrame]
    materialized: str = "view"  # view | table
    partition_by: str | None = None  # table-only: partition column


@dataclass
class Pipeline:
    spark: SparkSession
    workdir: str | None = None
    sources: dict[str, DataFrame] = field(default_factory=dict)
    models: dict[str, Model] = field(default_factory=dict)
    _built: dict[str, DataFrame] = field(default_factory=dict)
    _results: list[dict] = field(default_factory=list)
    _deps: dict[str, set] = field(default_factory=dict)
    _src_deps: dict[str, set] = field(default_factory=dict)
    # guards _built, _claims, _waiting, _results and the dependency edges
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _claims: dict[str, _Claim] = field(default_factory=dict)
    # thread ident -> the claim that thread is waiting on
    _waiting: dict[int, _Claim] = field(default_factory=dict)
    # per-thread build stack of _Frame, so dependency edges stay exact
    _local: threading.local = field(default_factory=threading.local)

    def add_source(self, name: str, df: DataFrame) -> None:
        self.sources[name] = df

    def model(self, name: str, materialized: str = "view", partition_by: str | None = None):
        def deco(fn: Callable[[Pipeline], DataFrame]):
            self.models[name] = Model(name, fn, materialized, partition_by)
            return fn

        return deco

    def _stack(self) -> list[_Frame]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def source(self, name: str) -> DataFrame:
        stack = self._stack()
        if stack:
            with self._lock:
                self._src_deps.setdefault(stack[-1].name, set()).add(name)
        return self.sources[name]

    def ref(self, name: str) -> DataFrame:
        """Build (once) and return a model; recursion builds the DAG in
        dependency order, like dbt's ref(). A model another thread is
        building is waited for, not built twice."""
        stack = self._stack()
        me = threading.get_ident()
        with self._lock:
            if stack:
                # dependency edge: the model currently building referenced us
                self._deps.setdefault(stack[-1].name, set()).add(name)
            if name in self._built:
                return self._built[name]
            if name not in self.models:
                raise KeyError(f"unknown model: {name}")
            claim = self._claims.get(name)
            if claim is None:
                claim = self._claims[name] = _Claim(owner=me)
            else:
                self._check_wait(name, claim, me)
                self._waiting[me] = claim
        t0 = time.perf_counter()
        try:
            if claim.owner == me:
                return self._build(self.models[name], claim, stack)
            try:
                claim.done.wait()
            finally:
                with self._lock:
                    del self._waiting[me]
            if claim.error is not None:
                raise UpstreamError(f"model {name!r} failed") from claim.error
            return self._built[name]
        finally:
            if stack:
                stack[-1].nested_s += time.perf_counter() - t0

    def _check_wait(self, name: str, claim: _Claim, me: int) -> None:
        """Refuse a wait that closes a cycle (a model that refs itself,
        directly or through other threads' builds): it would never end."""
        owner = claim.owner
        while owner != me:
            blocking = self._waiting.get(owner)
            # a set ``done`` is a wait that has ended but not yet been
            # removed from _waiting: that thread is no longer blocked
            if blocking is None or blocking.done.is_set():
                return
            owner = blocking.owner
        raise RuntimeError(f"dependency cycle through model {name!r}")

    def _build(self, m: Model, claim: _Claim, stack: list[_Frame]) -> DataFrame:
        frame = _Frame(m.name)
        started_at = time.time()
        t0 = time.perf_counter()
        t_fn = None
        stack.append(frame)
        try:
            df = m.fn(self)
            t_fn = time.perf_counter()
            rows: int | None = None
            if m.materialized == "table" and self.workdir:
                path = f"{self.workdir}/{m.name}"
                writer = df.write.mode("overwrite")
                if m.partition_by:
                    # Day-partitioned warehouse layout (ref: load_to_bigquery
                    # TimePartitioning) -> downstream partition pruning.
                    writer = writer.partitionBy(m.partition_by)
                writer.parquet(path)
                # The written frame's schema spares the re-read a
                # schema-inference job. The file source makes every field
                # nullable and puts the partition column last, so the
                # result is exactly the schema inference would give.
                df = self.spark.read.schema(df.schema).parquet(path)
                # run_results row counts come from the freshly-written
                # parquet footers (num_rows metadata), not a second full
                # Spark job — the unconditional df.count() here added
                # per-table latency to every pipeline run (ADVICE r5).
                rows = _parquet_footer_rows(path)
        except BaseException as exc:
            self._record(m, "error", None, f"{type(exc).__name__}: {exc}",
                         started_at, t0, t_fn, frame)
            claim.error = exc
            with self._lock:
                del self._claims[m.name]
            claim.done.set()
            raise
        finally:
            stack.pop()
        # views stay lazy (dbt likewise reports no row count for views);
        # tables report the materialized row count.
        self._record(m, "success", rows, None, started_at, t0, t_fn, frame)
        df.createOrReplaceTempView(m.name)
        with self._lock:
            self._built[m.name] = df
            del self._claims[m.name]
        claim.done.set()
        return df

    def _record(self, m: Model, status: str, rows: int | None, message: str | None,
                started_at: float, t0: float, t_fn: float | None, frame: _Frame) -> None:
        t_end = time.perf_counter()
        completed_at = started_at + (t_end - t0)
        t_fn = t_end if t_fn is None else t_fn
        result = {
            "model": m.name,
            "materialized": m.materialized,
            "status": status,
            "rows": rows,
            "elapsed_s": round(t_end - t0, 4),
            # the model function alone, without the nested ref() builds
            # and waits it made
            "build_s": round(t_fn - t0 - frame.nested_s, 4),
            # the table write, the re-read and the footer row count
            "execute_s": round(t_end - t_fn, 4),
            "started_at": started_at,
            "completed_at": completed_at,
            "thread_id": threading.current_thread().name,
            "message": message,
        }
        with self._lock:
            self._results.append(result)

    def run(self, names: list[str] | None = None) -> dict[str, DataFrame]:
        """Build ``names`` (default: every model) concurrently, one
        thread per model; the caller's job group and local properties
        carry over to every Spark job. A failure re-raises the original
        exception once every in-flight build has finished."""
        names = names or list(self.models)
        with ThreadPoolExecutor(max(1, len(names)), thread_name_prefix="model") as pool:
            # one wrapper per task: each gets its own copy of the caller's
            # local properties, so concurrent queries cannot overwrite
            # each other's execution ids
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(self.ref), n)
                for n in names
            ]
        for f in futures:
            exc = f.exception()
            while isinstance(exc, UpstreamError):
                exc = exc.__cause__
            if exc is not None:
                raise exc
        return dict(self._built)

    def run_results(self) -> list[dict]:
        """Per-model build records in build order — the analog of dbt's
        ``target/run_results.json`` (status / timing / materialization;
        ref: SURVEY §3.1 dbt-run lifecycle). One entry per model built
        in this pipeline instance; models pulled in transitively by
        ``ref()`` appear before their dependents."""
        return list(self._results)

    def manifest(self) -> dict:
        """The dbt ``manifest.json`` analog: every model with its
        materialization and the model/source dependency edges observed
        while building (edges are recorded by ``ref()``/``source()``
        calls inside model functions, so the graph reflects what the
        DAG actually used, not an annotation that can drift)."""
        return {
            "models": {
                m.name: {
                    "materialized": m.materialized,
                    "partition_by": m.partition_by,
                    "depends_on": sorted(self._deps.get(m.name, ())),
                    "sources": sorted(self._src_deps.get(m.name, ())),
                }
                for m in self.models.values()
            }
        }

    def write_manifest(self) -> str:
        """Persist ``manifest.json`` under the workdir."""
        import json
        from pathlib import Path

        if not self.workdir:
            raise ValueError("write_manifest requires a workdir")
        path = Path(self.workdir) / "manifest.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.manifest(), indent=1) + "\n")
        return str(path)

    def write_run_results(self) -> str:
        """Persist ``run_results.json`` under the workdir (the dbt
        artifact location analog). Returns the path written."""
        import json
        from pathlib import Path

        if not self.workdir:
            raise ValueError("write_run_results requires a workdir")
        path = Path(self.workdir) / "run_results.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps({"results": self._results}, indent=1) + "\n"
        )
        return str(path)
