"""Query registry: the single source of truth for the driver contract.

Every operator implemented from SURVEY.md §2 registers itself here with
a name, a ``(spark, sf_dir) -> DataFrame`` callable, and (when the
semantics are SQL-expressible) the equivalent ANSI SQL that the
DuckDB oracle runs on the same parquet tables. ``__spark_entry__.py``
just re-exports these dicts.

Conventions (driver contract, __spark_entry__.py docstring):
- every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver sorts columns by NAME before hashing);
- floating-point aggregates that sum many doubles are ``round(...)``-ed
  to a fixed precision on BOTH sides so accumulation order can't flip
  the hash;
- nondeterministic columns (current_timestamp) never appear in
  registered query output.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# operator modules that register queries on import
_MODULES = (
    "pitlapetl_spark.operators.relational",
    "pitlapetl_spark.operators.joins",
    "pitlapetl_spark.operators.aggregates",
    "pitlapetl_spark.operators.analytics",
    "pitlapetl_spark.operators.warehouse",
    "pitlapetl_spark.operators.warehouse2",
    "pitlapetl_spark.operators.windows",
    "pitlapetl_spark.operators.setops",
    "pitlapetl_spark.operators.nested",
    "pitlapetl_spark.operators.asof",
    "pitlapetl_spark.operators.dedup",
    "pitlapetl_spark.operators.similarity",
    "pitlapetl_spark.operators.text",
    "pitlapetl_spark.operators.text_filters",
    "pitlapetl_spark.operators.training_prep",
    "pitlapetl_spark.operators.multimodal",
    "pitlapetl_spark.operators.sinks_query",
    "pitlapetl_spark.operators.formats",
    "pitlapetl_spark.operators.rest_query",
    "pitlapetl_spark.operators.python_udfs",
    "pitlapetl_spark.operators.stats",
    "pitlapetl_spark.operators.breadth",
    "pitlapetl_spark.operators.pagerank",
    "pitlapetl_spark.operators.graph_cluster",
    "pitlapetl_spark.operators.community",
    "pitlapetl_spark.operators.scd",
    "pitlapetl_spark.operators.incremental",
    "pitlapetl_spark.operators.kmeans",
    "pitlapetl_spark.operators.pq",
    "pitlapetl_spark.operators.funnel",
    "pitlapetl_spark.operators.linkpred",
    "pitlapetl_spark.operators.nbayes",
    "pitlapetl_spark.operators.entity_resolution",
    "pitlapetl_spark.operators.reconcile",
    "pitlapetl_spark.operators.quality",
    "pitlapetl_spark.operators.spatial",
    "pitlapetl_spark.operators.webgate",
    "pitlapetl_spark.operators.breadth7",
    "pitlapetl_spark.operators.breadth7b",
    "pitlapetl_spark.operators.breadth7c",
    "pitlapetl_spark.operators.breadth7d",
    "pitlapetl_spark.operators.breadth7e",
    "pitlapetl_spark.operators.breadth7f",
    "pitlapetl_spark.operators.breadth8",
    "pitlapetl_spark.operators.breadth9",
    "pitlapetl_spark.operators.bpe_train",
    "pitlapetl_spark.operators.als",
    "pitlapetl_spark.operators.kcore",
    "pitlapetl_spark.operators.hits",
    "pitlapetl_spark.plans.jobs",
    "pitlapetl_spark.streaming.batch_windows",
    "pitlapetl_spark.sources.paged_api",
)

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (idempotent), populating the registry."""
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    """A copy of the registry, in registration order."""
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    """A copy of the oracle map, in registration order."""
    load_all()
    return dict(ORACLES)
