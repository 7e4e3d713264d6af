"""SparkSession factory.

Defaults are tuned for the local[N] test harness but every setting is
chosen for cluster-scale behavior first:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong somewhere; AQE fixes
  it per-stage.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden (``spark.sql.shuffle.partitions`` ~= 2-3x total cores) and
  AQE coalesces down.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-invariant.
- Arrow enabled: every Pandas-UDF path in operators/ is Arrow-batched.
- generated-code cache of 1000 classes, not Spark's 100: the runner
  tick and the query passes re-run the same physical plans, so their
  Janino-compiled classes should be reused. The measured working set
  is about 236 classes for the 18 benchmark star-schema queries, about
  200 for one pipeline tick and 340-410 for a whole benchmark cycle,
  so at 100 nearly every cycle recompiles everything. Guava splits the
  cap across its cache segments (a cap of 300 still recompiled 176
  classes per cycle), so 1000 leaves about 2.5x headroom over the
  largest cycle; 500, 1000 and 2000 measured the same. Spark reads
  this setting once per JVM: it applies only when ``get_spark`` builds
  the JVM's first session.
- a class-data-sharing (CDS) archive of Spark's classes. An external
  scheduler starts every pipeline tick as a new process, and loading
  and verifying Spark's classes is most of that process's cold set-up.
  The first ``get_spark`` that launches a JVM for a given JDK and Spark
  classpath records the classes it loads; every later launch maps the
  recorded archive instead (``get_spark`` measured 7-8 s without it and
  3-4 s with it on 4 cores). The archive lives in
  ``$XDG_CACHE_HOME/pitlapetl_spark/cds`` (``~/.cache/...`` when that is
  unset), never under ``TMPDIR``, which callers may delete per run; it
  is about 180 MB, and deleting the directory resets it. The recording
  launch pays once: it is a little slower, and the JVM writes the
  archive when it exits (about 20 s), which the recording process waits
  for. JDK 17 refuses to record while a non-empty directory is on the
  classpath, and Spark's launcher puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) on it, so the archive is used only when that
  directory holds nothing but ``*.template`` files; the gateway JVM is
  then launched with ``SPARK_CONF_DIR`` pointing at an empty directory
  beside the archive. Otherwise, or when the cache directory is not
  writable, or while another process records, the JVM launches as
  before, without an archive. ``get_spark`` logs which of these held.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import logging
import os
import shutil
import subprocess
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "pitlapetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    The generated-code cache cap is static and read once per JVM, so it
    holds only when this call builds the JVM's first session; a session
    that already exists (for example an external driver's own) keeps
    the cap it was built with.

    When this call launches the JVM, it maps the class-data-sharing
    archive of this JDK and Spark classpath, or records one if there is
    none yet (module docstring). The archive's JVM options go into
    ``spark.driver.defaultJavaOptions``, ahead of any the caller passes
    there; Spark adds the caller's ``spark.driver.extraJavaOptions``
    after them. A JVM that is already running keeps its own options.
    The choice is logged at INFO level."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # push MIN/MAX/COUNT to parquet footer statistics: whole-table
        # aggregates answer from metadata without scanning row groups
        # (exact — footer stats, not estimates)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # write TIMESTAMP_MICROS, not the legacy INT96 default: INT96
        # carries no footer min/max statistics, so every time-ranged
        # scan over tables THIS engine wrote would lose row-group and
        # file pruning (caught by test_write_sized_files_caps_and_ranges)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # sized to the measured working set (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    archive = _plan_archive() if _launches_jvm() else _Archive("none", "JVM already running")
    log.info("class-data-sharing archive %s: %s", archive.state, archive.reason)
    for k, v in _launch_conf(archive, extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        with _env("SPARK_CONF_DIR", archive.conf_dir):
            spark = builder.getOrCreate()
    except BaseException:
        archive.release()
        raise
    if archive.state == "recording":
        from pyspark import SparkContext

        classpath = spark._jvm.System.getProperty("java.class.path")
        atexit.register(_publish, archive, SparkContext._gateway.proc, classpath)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ------------------------------------------- class-data-sharing archive

# without it the JVM prints CDS warnings on stdout, where callers such
# as the benchmark read their results
_QUIET = "-Xlog:cds*=off"
_DUMP_WAIT_S = 300  # the recording JVM writes the archive as it exits


@dataclass
class _Archive:
    """How one JVM launch uses the class-data-sharing archive."""

    state: str  # "mapped", "recording" or "none"
    reason: str
    java_options: str = ""
    conf_dir: str | None = None  # SPARK_CONF_DIR for the gateway launch
    java: str = ""
    path: Path | None = None  # the published archive
    part: Path | None = None  # where the recording JVM writes it
    lock: int | None = None  # held by the recording process until it publishes

    def release(self) -> None:
        """Drop an unpublished recording and let another process record."""
        if self.part is not None:
            self.part.unlink(missing_ok=True)
        if self.lock is not None:
            os.close(self.lock)
            self.lock = None


def _launches_jvm() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
    return Path(base) / "pitlapetl_spark" / "cds"


def _java() -> Path:
    """The java binary Spark's launcher runs (``bin/spark-class``)."""
    home = os.environ.get("JAVA_HOME")
    java = Path(home, "bin", "java") if home else Path(shutil.which("java") or "java")
    return java.resolve()


def _archive_key(java: Path, spark_home: Path, conf_dir: Path) -> str:
    """Changes whenever the JDK, a Spark jar or the conf directory does,
    so an upgrade records a new archive instead of mapping a stale one."""
    release = java.parent.parent / "release"
    h = hashlib.sha256(f"{java}\0{conf_dir}\0".encode())
    h.update(release.read_bytes() if release.is_file() else b"")
    for jar in sorted((spark_home / "jars").glob("*.jar")):
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _plan_archive() -> _Archive:
    """Decide how the JVM this process is about to launch uses the
    archive: map the published one, record one, or neither."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = Path(_find_spark_home())
    conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    own = sorted(p.name for p in conf.iterdir() if not p.name.endswith(".template")) if conf.is_dir() else []
    if own:
        return _Archive("none", f"conf dir has {', '.join(own)}")
    cache = _cache_dir()
    empty_conf = cache / "conf"
    try:
        empty_conf.mkdir(parents=True, exist_ok=True)
        if not os.access(cache, os.W_OK):
            raise PermissionError(cache)
        lock = os.open(cache / "record.lock", os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return _Archive("none", "cache dir not writable")
    java = _java()
    path = cache / f"{_archive_key(java, spark_home, empty_conf)}.jsa"
    mapped = _Archive("mapped", str(path), f"-XX:SharedArchiveFile={path} {_QUIET}", str(empty_conf))
    if path.is_file():
        os.close(lock)
        return mapped
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(lock)
        return _Archive("none", "another process is recording")
    if path.is_file():  # published while this process waited for the lock
        os.close(lock)
        return mapped
    for stale in cache.glob("*.part"):  # left by a recorder that died
        stale.unlink(missing_ok=True)
    part = cache / f"{path.stem}.{os.getpid()}.part"
    return _Archive(
        "recording", f"to {part}, published when the JVM exits",
        f"-XX:ArchiveClassesAtExit={part} {_QUIET}", str(empty_conf), str(java), path, part, lock,
    )


def _launch_conf(archive: _Archive, extra_conf: dict[str, str]) -> dict[str, str]:
    """The caller's conf plus the archive's JVM options."""
    if not archive.java_options:
        return dict(extra_conf)
    key = "spark.driver.defaultJavaOptions"
    return extra_conf | {key: f"{archive.java_options} {extra_conf.get(key, '')}".strip()}


@contextlib.contextmanager
def _env(name: str, value: str | None):
    """Set an environment variable for the duration of the block only."""
    if value is None:
        yield
        return
    saved = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if saved is None:
            del os.environ[name]
        else:
            os.environ[name] = saved


def _maps_cleanly(java: str, archive: Path, classpath: str) -> bool:
    """Whether a JVM with this classpath starts with the archive mapped.
    A torn archive crashes the JVM that maps it, so this runs in a JVM of
    its own, in the cache directory, where a crash leaves its log."""
    hs_err = archive.parent / "probe-hs_err.log"
    try:
        probe = subprocess.run(
            [java, f"-XX:SharedArchiveFile={archive}", "-Xshare:on", _QUIET,
             f"-XX:ErrorFile={hs_err}", "-cp", classpath, "-version"],
            cwd=archive.parent, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=60,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    finally:
        hs_err.unlink(missing_ok=True)
    return probe.returncode == 0


def _publish(archive: _Archive, gateway, classpath: str) -> None:
    """At exit of the recording process: end the gateway JVM, which
    writes the archive as it exits, and publish the archive by rename
    only if the JVM exited normally and a probe JVM maps it. Other
    archives in the cache directory are removed."""
    try:
        if gateway.stdin is not None and not gateway.stdin.closed:
            gateway.stdin.close()  # the gateway JVM exits when its stdin closes
        code = gateway.wait(timeout=_DUMP_WAIT_S)
        if code == 0 and archive.part.is_file() and _maps_cleanly(archive.java, archive.part, classpath):
            os.replace(archive.part, archive.path)
            for old in archive.path.parent.glob("*.jsa"):
                if old != archive.path:
                    old.unlink(missing_ok=True)
    except (OSError, subprocess.TimeoutExpired):
        log.warning("class-data-sharing archive not published", exc_info=True)
    finally:
        archive.release()


def run_in_driver_threads(thunks) -> list:
    """Call every zero-argument thunk on its own driver thread and
    return the results in input order. Independent Spark jobs submitted
    from separate threads overlap on the executors instead of stacking
    their driver floors one after another. Each thread is a
    ``pyspark.InheritableThread``, so it starts with its own copy of
    the caller's local properties (job group, description, scheduler
    pool): jobs fired inside stay attributed to the caller's group. A
    plain ``threading.Thread`` or ``ThreadPoolExecutor`` worker starts
    with empty properties and would drop them. Every thread is joined
    before the first exception raised is re-raised."""
    from pyspark import InheritableThread

    thunks = list(thunks)
    results: list = [None] * len(thunks)
    errs: list[BaseException] = []

    def run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [
        InheritableThread(target=run, args=(i,), daemon=True)
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return results
