"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a multi-executor cluster (AQE, adaptive skew join,
sane shuffle partitioning). Nothing here is local-mode-specific except
the master URL. A new driver JVM starts from a class-data-sharing
archive cached under ``$XDG_CACHE_HOME/glamira-spark`` when one fits.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Tuned for the bench harness: 32 local cores, ~600k-row sf0.1 inputs.
# On a real cluster these same settings scale: AQE coalesces the 2x-cores
# starting shuffle partitioning down (or splits skewed partitions up) at
# runtime, so the static number only has to be a reasonable upper bound.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's stock 10 MB. 64 MB looked tempting for dim joins, but it
    # lets mid-sized nested relations (e.g. a carts rollup) broadcast:
    # the hash relation builds single-threaded and its humongous
    # allocations stall G1 — measured 2x slower and 3x noisier than the
    # shuffle join on the warehouse e2e. Genuinely small dims still
    # broadcast; anything near the limit is better shuffled.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # local managed-table location (bucketed tables in tests/benchmarks)
    "spark.sql.warehouse.dir": "/tmp/glamira-spark-warehouse",
}


# -- class-data sharing -------------------------------------------------------
#
# A cold driver JVM spends seconds loading and verifying Spark's classes. The
# first start of a JDK + Spark jar set dumps the classes it loaded to a dynamic
# AppCDS archive when the JVM exits (-XX:ArchiveClassesAtExit); every later
# start maps them from it (-XX:SharedArchiveFile). The JVM refuses to archive
# with a non-empty directory on the classpath ahead of the jars it loaded
# from, and Spark's launcher puts the conf dir first, so an archived start
# points SPARK_CONF_DIR at an empty dir. That only happens when the real conf
# dir holds nothing but templates, i.e. when it configures nothing. A start
# that cannot use an archive is a plain start. Delete the cache directory to
# drop the archives.

# The dumping JVM warns once per class it skips; JVM logging goes to
# stderr so the caller's stdout stays its own.
_JVM_LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning:stderr"
# A dumping JVM takes ~15 s on 4 cores to write the archive as it exits.
_EXIT_TIMEOUT_S = 300

# "used", "dumping", or "off: <reason>", for the last driver JVM started.
_archive_state = "off: no driver JVM started"
# (gateway process, temp file it dumps to or None) of the driver JVM this
# process started with the archive options.
_archived_jvm: tuple[subprocess.Popen, Path | None] | None = None


def archive_state() -> str:
    """How the last driver JVM this process started used the class
    archive: ``used``, ``dumping`` or ``off: <reason>``."""
    return _archive_state


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "glamira-spark"


def _java_home() -> Path | None:
    """The JDK spark-class runs: $JAVA_HOME, else the ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return Path(os.path.realpath(java)).parent.parent if java else None


def _archive_key(java_home: Path, jars_dir: Path) -> str:
    """Digest of the JDK (its home and ``release`` file) and of the name
    and size of every Spark jar."""
    digest = hashlib.sha256(f"{java_home}\n".encode())
    digest.update((java_home / "release").read_bytes())
    for jar in sorted(jars_dir.glob("*.jar")):
        digest.update(f"{jar.name} {jar.stat().st_size}\n".encode())
    return digest.hexdigest()[:16]


def _remove_dead_temps(cache: Path) -> None:
    """Delete temp archives (``driver-<key>.<pid>.tmp``) whose writing
    process is gone: a killed dump is never promoted."""
    for tmp in cache.glob("driver-*.*.tmp"):
        pid = tmp.name.split(".")[1]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            tmp.unlink(missing_ok=True)
        except PermissionError:
            pass  # alive, another user's


def _find_archive(cache: Path, prefix: str) -> Path | None:
    """The archive ``<prefix>-<size>.jsa`` whose size is still its
    name's: the JVM does not check a dynamic archive's length and dies
    of SIGBUS mapping a truncated one."""
    for archive in cache.glob(f"{prefix}-*.jsa"):
        if archive.name == f"{prefix}-{archive.stat().st_size}.jsa":
            return archive
        archive.unlink()
    return None


def _plan_archive(conf: dict[str, str]) -> tuple[str, Path | None, Path | None]:
    """(state, archive to map or temp file to dump to, empty conf dir)
    for the next driver JVM; no path when the state is ``off: <reason>``."""
    spark_home = Path(_find_spark_home())
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    if conf_dir.is_dir():
        live = sorted(p.name for p in conf_dir.iterdir() if not p.name.endswith(".template"))
        if live:
            return f"off: {conf_dir} holds {live[0]}", None, None
    if conf.get("spark.driver.extraClassPath"):
        # ahead of the jars on the classpath: a directory there fails the dump
        return "off: spark.driver.extraClassPath is set", None, None
    java_home = _java_home()
    if java_home is None or not (java_home / "release").is_file():
        return "off: no JDK release file", None, None
    cache = _cache_dir()
    empty_conf = cache / "conf"
    try:
        empty_conf.mkdir(parents=True, exist_ok=True)
    except OSError as exc:
        return f"off: {exc}", None, None
    _remove_dead_temps(cache)
    prefix = f"driver-{_archive_key(java_home, spark_home / 'jars')}"
    archive = _find_archive(cache, prefix)
    if archive is not None:
        return "used", archive, empty_conf
    return "dumping", cache / f"{prefix}.{os.getpid()}.tmp", empty_conf


def _stop_archived_jvm() -> None:
    """Wait for the driver JVM started with the archive options to exit,
    stopping Spark first if it still runs. A dumping JVM writes the
    archive as it exits; promote it only when the JVM exited with
    status 0."""
    global _archived_jvm
    if _archived_jvm is None:
        return
    proc, tmp = _archived_jvm
    _archived_jvm = None
    if proc.poll() is None:
        gateway = SparkContext._gateway
        if gateway is not None and gateway.proc is proc:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if tmp is None:
        return
    if proc.returncode == 0 and tmp.is_file():
        os.replace(tmp, tmp.with_name(f"{tmp.name.split('.')[0]}-{tmp.stat().st_size}.jsa"))
    else:
        tmp.unlink(missing_ok=True)


atexit.register(_stop_archived_jvm)  # no JVM outlives this process, even mid-dump


def _start(app_name: str, conf: dict[str, str], conf_dir: Path | None = None) -> SparkSession:
    """getOrCreate with ``conf``; a launched JVM sees ``SPARK_CONF_DIR=conf_dir``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for key, value in conf.items():
        builder = builder.config(key, value)
    if conf_dir is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(app_name: str = "glamira-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults. A new
    driver JVM starts from the class archive when one fits."""
    global _archive_state, _archived_jvm
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return _start(app_name, conf)  # no JVM to launch
    _stop_archived_jvm()  # an earlier JVM of this process
    _archive_state, path, empty_conf = _plan_archive(conf)
    if path is None:
        return _start(app_name, conf)
    flag = "SharedArchiveFile" if _archive_state == "used" else "ArchiveClassesAtExit"
    own = f"-XX:{flag}={path} {_JVM_LOG_OPTIONS}"
    user = conf.get("spark.driver.extraJavaOptions")
    archived = {**conf, "spark.driver.extraJavaOptions": f"{user} {own}" if user else own}
    try:
        spark = _start(app_name, archived, empty_conf)
    except PySparkRuntimeError as exc:
        if _archive_state != "used" or exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # The JVM died mapping the archive: drop it and start plain; the
        # next start dumps a new one.
        path.unlink(missing_ok=True)
        _archive_state = f"off: {path.name} failed to map, removed"
        return _start(app_name, conf)
    _archived_jvm = (SparkContext._gateway.proc, path if _archive_state == "dumping" else None)
    return spark
