"""The class-data-sharing archive of session.get_spark: when a launch
records, maps or skips it, and that only a complete archive is ever
published. The unit tests are Spark-free (a fake SPARK_HOME and an
isolated cache directory); the lifecycle test launches real JVMs."""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from pitlapetl_spark import session
from tests.conftest import REPO


@pytest.fixture
def spark_home(tmp_path, monkeypatch) -> Path:
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    for name in ("spark-core.jar", "spark-sql.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return home


def _plan() -> session._Archive:
    archive = session._plan_archive()
    if archive.state == "recording":
        # this process launches no JVM: give the recording slot back
        archive.release()
    return archive


def test_key_changes_when_a_jar_changes_size_or_mtime(spark_home):
    java, conf = session._java(), spark_home / "conf"
    jar = spark_home / "jars" / "spark-sql.jar"
    before = session._archive_key(java, spark_home, conf)
    assert session._archive_key(java, spark_home, conf) == before
    jar.write_bytes(b"jar, rebuilt")
    resized = session._archive_key(java, spark_home, conf)
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = session._archive_key(java, spark_home, conf)
    assert len({before, resized, touched}) == 3


def test_conf_dir_with_a_users_file_gets_no_archive(spark_home):
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    archive = _plan()
    assert (archive.state, archive.reason) == ("none", "conf dir has spark-defaults.conf")
    assert archive.java_options == "" and archive.conf_dir is None
    conf = {"spark.driver.extraJavaOptions": "-Dx=1"}
    assert session._launch_conf(archive, conf) == conf
    with session._env("SPARK_CONF_DIR", archive.conf_dir):
        assert "SPARK_CONF_DIR" not in os.environ


def test_templates_only_records_once_then_maps(spark_home, tmp_path):
    cds = tmp_path / "cache" / "pitlapetl_spark" / "cds"
    first = session._plan_archive()
    try:
        assert first.state == "recording"
        assert first.conf_dir == str(cds / "conf") and not os.listdir(first.conf_dir)
        assert first.java_options == f"-XX:ArchiveClassesAtExit={first.part} -Xlog:cds*=off"
        assert first.part.parent == cds and first.part.suffix == ".part"
        # a concurrent first launch neither records nor maps
        assert (_plan().state, _plan().reason) == ("none", "another process is recording")
    finally:
        first.release()
    first.path.write_bytes(b"published")
    mapped = _plan()
    assert (mapped.state, mapped.reason) == ("mapped", str(first.path))
    assert mapped.java_options == f"-XX:SharedArchiveFile={first.path} -Xlog:cds*=off"
    assert mapped.conf_dir == first.conf_dir


def test_callers_java_options_survive():
    archive = session._Archive("mapped", "x", "-XX:SharedArchiveFile=a.jsa -Xlog:cds*=off")
    caller = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/run/t",
        "spark.driver.defaultJavaOptions": "-Dcaller=1",
    }
    assert session._launch_conf(archive, caller) == {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/run/t",
        "spark.driver.defaultJavaOptions": "-XX:SharedArchiveFile=a.jsa -Xlog:cds*=off -Dcaller=1",
    }


def test_archive_lives_in_the_user_cache_not_tmpdir(spark_home, tmp_path, monkeypatch):
    monkeypatch.delenv("XDG_CACHE_HOME")
    monkeypatch.setenv("HOME", str(tmp_path / "home"))
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    monkeypatch.chdir(spark_home)
    archive = session._plan_archive()
    archive.release()
    assert archive.path.is_relative_to(tmp_path / "home" / ".cache")
    assert not archive.path.is_relative_to(tmp_path / "tmp")
    assert not archive.path.is_relative_to(spark_home)


def test_unwritable_cache_dir_gets_no_archive(spark_home, tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    archive = _plan()
    assert (archive.state, archive.reason) == ("none", "cache dir not writable")


class _ExitedGateway:
    stdin = None

    def __init__(self, code: int):
        self.code = code

    def wait(self, timeout=None) -> int:
        return self.code


@pytest.fixture(scope="module")
def small_archive(tmp_path_factory) -> tuple[bytes, str]:
    """A real dynamic archive, as recorded by a JVM that only printed its
    version, and the classpath it was recorded with."""
    work = tmp_path_factory.mktemp("small_archive")
    classpath = work / "cp"
    classpath.mkdir()
    jsa = work / "a.jsa"
    subprocess.run([str(session._java()), f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds*=off",
                    "-cp", str(classpath), "-version"], check=True, capture_output=True)
    return jsa.read_bytes(), str(classpath)


@pytest.mark.parametrize(("code", "content", "published"), [
    (0, "archive", True),
    (-9, "archive", False),  # killed while writing: it may be torn
    (0, "torn", False),  # a JVM that maps it dies with a fatal error
    (0, "garbage", False),
])
def test_publishes_only_a_complete_recording(spark_home, small_archive, code, content, published):
    archive = session._plan_archive()
    older = archive.path.with_name("0123456789abcdef.jsa")
    older.write_bytes(b"an archive of an older key")
    data, classpath = small_archive
    archive.part.write_bytes({"archive": data, "torn": data[:20_000], "garbage": b"\x00" * 8}[content])
    session._publish(archive, _ExitedGateway(code), classpath)
    assert archive.path.exists() is published and older.exists() is not published
    if published:
        assert archive.path.read_bytes() == data
    assert not archive.part.exists()
    assert not list(archive.path.parent.glob("*hs_err*"))
    with open(archive.path.parent / "record.lock") as f:
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)  # the slot is free again


_LAUNCH = """
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="LOG %(name)s %(message)s")
from pitlapetl_spark.session import get_spark
spark = get_spark(master="local[1]", extra_conf={"spark.driver.extraJavaOptions": "-Dpitlap.caller=kept"})
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("ARGS " + json.dumps(list(bean.getInputArguments())))
assert spark.range(3).count() == 3
"""


def _launch(cache: Path) -> tuple[str, list[str]]:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEM="1g", PYTHONPATH=str(REPO))
    env.pop("SPARK_CONF_DIR", None)
    proc = subprocess.run([sys.executable, "-c", _LAUNCH], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not [x for x in proc.stdout.splitlines() if x.startswith("[") and "cds" in x]
    args = json.loads(next(x for x in proc.stdout.splitlines() if x.startswith("ARGS "))[5:])
    assert "-Dpitlap.caller=kept" in args
    line = next(x for x in proc.stderr.splitlines() if x.startswith("LOG pitlapetl_spark.session"))
    return line, args


def test_first_launch_records_and_publishes_later_launches_map(tmp_path):
    cds = tmp_path / "cache" / "pitlapetl_spark" / "cds"
    cds.mkdir(parents=True)
    (cds / "0123456789abcdef.jsa").write_bytes(b"an archive of an older key")
    # left by a recorder that died: the first launch removes it
    (cds / "0123456789abcdef.1.part").write_bytes(b"\x00" * 100_000)

    line, args = _launch(tmp_path / "cache")
    assert "archive recording" in line
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args)
    [published] = cds.glob("*.jsa")
    assert published.stat().st_size > 10_000_000
    assert not list(cds.glob("*.part"))

    # a torn recording (the first 100,000 bytes of a real archive) is
    # never mapped: a JVM that maps it dies with a fatal error
    torn = cds / f"{published.stem}.1.part"
    torn.write_bytes(published.read_bytes()[:100_000])
    line, args = _launch(tmp_path / "cache")
    assert f"archive mapped: {published}" in line
    assert f"-XX:SharedArchiveFile={published}" in args
    assert list(cds.glob("*.jsa")) == [published] and torn.exists()
