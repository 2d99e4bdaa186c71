"""The driver JVM's class-data-sharing archive (``session.py``).

The unit tests start no JVM: ``SparkSession.Builder.getOrCreate`` is
replaced by a recorder of the options and the ``SPARK_CONF_DIR`` a launch
would see. One subprocess test starts real sessions with its own cache:
a dumping start, then a start from the archive.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from glamira_batch_processing_spark import session

REPO = Path(__file__).resolve().parent.parent
OPTS = "spark.driver.extraJavaOptions"


def _fake_jdk_and_jars(root: Path) -> tuple[Path, Path]:
    jdk, jars = root / "jdk", root / "jars"
    jdk.mkdir()
    jars.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (jars / "spark-core.jar").write_bytes(b"x" * 10)
    (jars / "scala-library.jar").write_bytes(b"y" * 20)
    return jdk, jars


def test_key_changes_when_a_jar_or_the_jdk_changes(tmp_path):
    jdk, jars = _fake_jdk_and_jars(tmp_path)
    key = session._archive_key(jdk, jars)
    assert session._archive_key(jdk, jars) == key
    (jars / "spark-core.jar").write_bytes(b"x" * 11)
    resized = session._archive_key(jdk, jars)
    (jars / "extra.jar").write_bytes(b"z")
    added = session._archive_key(jdk, jars)
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    new_jdk = session._archive_key(jdk, jars)
    moved = tmp_path / "other-jdk"
    shutil.copytree(jdk, moved)
    assert len({key, resized, added, new_jdk, session._archive_key(moved, jars)}) == 5


@pytest.fixture
def launch(monkeypatch, tmp_path):
    """get_spark as if no JVM ran yet, with the cache under tmp_path and
    a templates-only conf dir; ``start(**overrides)`` returns the options
    and the ``SPARK_CONF_DIR`` its launch saw."""
    launches = []

    class Gateway:
        proc = None

    def record(builder):
        launches.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        SparkContext._gateway = Gateway()
        return "session"

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    monkeypatch.setattr(session, "_archived_jvm", None)
    monkeypatch.setattr(session, "_archive_state", "off: no driver JVM started")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    templates = tmp_path / "conf"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("# spark.master local\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))

    def start(**overrides):
        SparkContext._gateway = None
        session._archived_jvm = None  # the recorded launch has no process
        session.get_spark("t", **overrides)
        return launches[-1]

    return start


def _prefix() -> str:
    key = session._archive_key(session._java_home(), Path(_find_spark_home()) / "jars")
    return f"driver-{key}"


def test_templates_only_conf_dir_dumps_with_an_empty_conf_dir(launch, tmp_path):
    opts, conf_dir = launch()
    assert session.archive_state() == "dumping"
    assert conf_dir == str(session._cache_dir() / "conf") and not any(Path(conf_dir).iterdir())
    tmp = session._cache_dir() / f"{_prefix()}.{os.getpid()}.tmp"
    assert opts[OPTS] == f"-XX:ArchiveClassesAtExit={tmp} {session._JVM_LOG_OPTIONS}"
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")  # restored


def test_live_conf_file_leaves_conf_dir_and_disables_archive(launch, tmp_path):
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.master local\n")
    opts, conf_dir = launch()
    assert conf_dir == str(tmp_path / "conf")
    assert OPTS not in opts
    assert session.archive_state() == f"off: {tmp_path / 'conf'} holds spark-defaults.conf"


def test_extra_driver_classpath_disables_archive(launch, tmp_path):
    opts, _ = launch(**{"spark.driver.extraClassPath": str(tmp_path)})
    assert OPTS not in opts
    assert session.archive_state() == "off: spark.driver.extraClassPath is set"


def test_users_extra_java_options_are_kept(launch):
    opts, _ = launch(**{OPTS: "-Dglamira.probe=1 -Xss4m"})
    assert opts[OPTS].startswith("-Dglamira.probe=1 -Xss4m -XX:ArchiveClassesAtExit=")


def test_archive_is_used_only_at_its_recorded_size(launch):
    cache = session._cache_dir()
    cache.mkdir(parents=True)
    truncated = cache / f"{_prefix()}-4096.jsa"
    truncated.write_bytes(b"\0" * 100)
    opts, _ = launch()
    assert session.archive_state() == "dumping" and not truncated.exists()
    whole = cache / f"{_prefix()}-100.jsa"
    whole.write_bytes(b"\0" * 100)
    opts, _ = launch()
    assert session.archive_state() == "used"
    assert opts[OPTS].startswith(f"-XX:SharedArchiveFile={whole} ")


def test_archive_the_jvm_dies_on_is_removed_and_the_start_is_plain(launch, monkeypatch, tmp_path):
    cache = session._cache_dir()
    cache.mkdir(parents=True)
    archive = cache / f"{_prefix()}-100.jsa"
    archive.write_bytes(b"\0" * 100)
    record = SparkSession.Builder.getOrCreate

    def die_on_archive(builder):
        if "SharedArchiveFile" in builder._options.get(OPTS, ""):
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return record(builder)

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", die_on_archive)
    opts, conf_dir = launch(**{OPTS: "-Dglamira.probe=1"})
    assert opts[OPTS] == "-Dglamira.probe=1" and conf_dir == str(tmp_path / "conf")
    assert not archive.exists()
    assert session.archive_state() == f"off: {archive.name} failed to map, removed"


def test_temp_archive_of_a_killed_or_running_writer_is_never_used(launch):
    cache = session._cache_dir()
    cache.mkdir(parents=True)
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    killed = cache / f"{_prefix()}.{dead.pid}.tmp"
    running = cache / f"{_prefix()}.{os.getppid()}.tmp"
    for tmp in (killed, running):
        tmp.write_bytes(b"\0" * 100)
    opts, _ = launch()
    assert session.archive_state() == "dumping"
    assert not killed.exists() and running.exists()
    assert str(running) not in opts[OPTS] and "SharedArchiveFile" not in opts[OPTS]
    assert not list(cache.glob("*.jsa"))


@pytest.mark.parametrize("exit_code, promoted", [(0, True), (3, False), (None, False)])
def test_dump_is_promoted_only_after_a_clean_exit(tmp_path, monkeypatch, exit_code, promoted):
    """A stand-in gateway that exits when its stdin closes, with
    ``exit_code``; None is a writer killed mid-dump."""
    script = f"import sys; sys.stdin.read(); sys.exit({exit_code or 0})"
    proc = subprocess.Popen([sys.executable, "-c", script], stdin=subprocess.PIPE)
    if exit_code is None:
        proc.kill()
        proc.wait()
    tmp = tmp_path / "driver-abc.123.tmp"
    tmp.write_bytes(b"\0" * 7)
    monkeypatch.setattr(session, "_archived_jvm", (proc, tmp))
    session._stop_archived_jvm()
    assert proc.returncode == (exit_code if exit_code is not None else -9)
    assert not tmp.exists()
    assert [p.name for p in tmp_path.iterdir()] == (["driver-abc-7.jsa"] if promoted else [])
    assert session._archived_jvm is None


_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from glamira_batch_processing_spark import get_spark
    from glamira_batch_processing_spark.session import archive_state
    spark = get_spark("archive-check")
    spark.range(100).selectExpr("sum(id)").collect()
    print(archive_state())
    print('{{"last": true}}')
    """
)


def _java_children_of(marker: str) -> list[int]:
    pids = []
    for cmdline in Path("/proc").glob("[0-9]*/cmdline"):
        try:
            if marker.encode() in cmdline.read_bytes():
                pids.append(int(cmdline.parent.name))
        except OSError:
            continue  # the process ended while we listed /proc
    return pids


def test_dumping_then_archived_start_keep_stdout_and_leave_no_jvm(tmp_path):
    """stdout goes to a file, not a pipe, so the run returns when Python
    exits even if a JVM holding the same stdout lives on."""
    script = tmp_path / "start.py"
    script.write_text(_SCRIPT.format(repo=str(REPO)))
    env = {k: v for k, v in os.environ.items() if k not in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR")}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    cache = tmp_path / "cache" / "glamira-spark"
    out, err = tmp_path / "stdout", tmp_path / "stderr"
    try:
        for expected in ("dumping", "used"):
            with out.open("w") as stdout, err.open("w") as stderr:
                run = subprocess.run(
                    [sys.executable, str(script)], env=env, stdout=stdout, stderr=stderr, timeout=600
                )
            assert run.returncode == 0, err.read_text()[-3000:]
            assert not _java_children_of(str(cache)), "a JVM outlived its Python process"
            text = out.read_text()
            assert text.splitlines()[-2:] == [expected, '{"last": true}'], text[-3000:]
            assert "[cds]" not in text
            assert len(list(cache.glob("driver-*.jsa"))) == 1
            assert not list(cache.glob("*.tmp"))
    finally:
        shutil.rmtree(cache, ignore_errors=True)
