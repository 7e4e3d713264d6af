"""Cold set-up of the program: ``session.get_spark`` + ``registry.load_all``
+ a JVM warm-up read, each timed."""

from __future__ import annotations

import os
import subprocess
import sys
import time

DRIVER_MEM = "1g"


def spark_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def cold_setup(inputs: str, work: str, extra_conf: dict[str, str] | None = None):
    """Return ``(spark, timings)``; timings in seconds by layer step."""
    from pitlapetl_spark import registry
    from pitlapetl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work) | (extra_conf or {}))
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    spark.read.parquet(os.path.join(inputs, "nation.parquet")).count()
    t3 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "registry.load_all_s": t2 - t1,
                   "session.warmup_s": t3 - t2, "setup_s": t3 - t0}



def shutdown(spark, timeout_s: float = 60) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
