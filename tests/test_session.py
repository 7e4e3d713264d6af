"""Session defaults (session.py): the generated-code cache holds the
engine's working set, so re-running the same plans compiles nothing."""

from __future__ import annotations

import json

from pitlapetl_spark.plans.runner import JOB_MANIFEST
from pitlapetl_spark.registry import QUERIES, load_all
from tests.conftest import REPO, SF_SMOKE

load_all()


def _working_set() -> list[str]:
    """The seven runner jobs plus the benchmark's star-schema queries:
    one tick and one query pass, the plans every recurring cycle
    re-runs."""
    spec = json.loads((REPO / "perfbench" / "spec.json").read_text())
    star = spec["workloads"]["warehouse_mix"]["operations"]
    return list(dict.fromkeys([s.query for s in JOB_MANIFEST] + star))


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_cap_is_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_second_pass_over_the_working_set_compiles_nothing(spark):
    """The working set compiles about 300 classes on the smoke data. At
    Spark's default cap of 100 it evicts itself, and the second pass
    recompiles nearly all of them."""
    names = _working_set()

    def run_all() -> None:
        for name in names:
            QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    run_all()
    before = _compilations(spark)
    run_all()
    assert _compilations(spark) - before == 0
