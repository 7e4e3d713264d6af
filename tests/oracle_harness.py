"""Local replica of the driver's DuckDB-oracle comparison.

For every registered query with an oracle, run the Spark plan and the
DuckDB SQL on the same parquet tables and compare: row count, column
names, and the rows under the contract's one canonicalization
(``tools/contract_canon.canon_rows``: floats rounded to 9 dp, no
tolerance beyond that), the rule the driver and the benchmark's gate
apply. Used by tests/test_oracle_parity.py so oracle drift is caught
locally before the driver's verify.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

from pitlapetl_spark.sources import TABLES

_TOOLS = str(Path(__file__).resolve().parent.parent / "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)
from contract_canon import canon_rows  # noqa: E402


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare_query(name: str, spark, sf_dir: str, query_fn, oracle: str) -> list[str]:
    """Run both sides; return a list of problems (empty = parity)."""
    problems: list[str] = []
    sdf = query_fn(spark, sf_dir).toPandas()
    con = duckdb_connection(sf_dir)
    odf = con.execute(oracle).df()
    con.close()

    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(
            f"{name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
        )
        return problems
    if len(sdf) != len(odf):
        problems.append(f"{name}: rowcount spark={len(sdf)} oracle={len(odf)}")
        return problems

    bad = [
        (i, a, b)
        for i, (a, b) in enumerate(zip(canon_rows(sdf), canon_rows(odf)))
        if a != b
    ]
    for i, a, b in bad[:3]:
        problems.append(f"{name}: row {i} spark={a} oracle={b}")
    if len(bad) > 3:
        problems.append(f"{name}: ... {len(bad)} mismatched rows total")
    return problems
