"""THE canonicalization for Spark-vs-DuckDB frame comparison, shared
by tools/drive_contract.py (the contract run, whole or a named subset)
and perfbench/harness.py (the benchmark's correctness gate) so the two
can never apply different pass/fail criteria.

Rules (mirroring the external driver): sort columns by name,
stringify objects, round floats to 9 dp, strip timezones, sort the
row reprs — order-insensitive, value-level."""

from __future__ import annotations

import hashlib

import pandas as pd


def canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype == object:
            d[c] = d[c].astype(str)
        elif str(d[c].dtype).startswith("float"):
            d[c] = d[c].round(9)
        elif str(d[c].dtype).startswith("datetime64[ns,"):
            d[c] = d[c].dt.tz_localize(None)
    return sorted(repr(tuple(r)) for r in d.itertuples(index=False, name=None))


def canon_hash(df: pd.DataFrame) -> str:
    return hashlib.md5("\n".join(canon_rows(df)).encode()).hexdigest()
