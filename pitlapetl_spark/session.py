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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
    the cap it was built with."""
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
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
