"""Regenerate ``domains.json`` from a fixture directory.

The benchmark's generator draws fresh rows; it takes from the fixture only
the schemas, value domains and row counts recorded here, so the benchmark
never reads outside its own checkout at run time.

    python3 perfbench/extract_domains.py <fixture_dir> > perfbench/domains.json
"""

from __future__ import annotations

import json
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
MAX_CATEGORIES = 64


def column_domain(col) -> dict:
    kind = str(col.type)
    if kind.startswith("list"):
        return {"type": kind, "dim": len(col[0].as_py())}
    if kind == "string":
        values = sorted(v for v in pc.unique(col).to_pylist() if v is not None)
        if len(values) <= MAX_CATEGORIES:
            return {"type": kind, "values": values}
        return {"type": kind, "distinct": len(values)}
    lo, hi = pc.min_max(col).values()
    return {"type": kind, "min": str(lo.as_py()), "max": str(hi.as_py()),
            "distinct": len(pc.unique(col))}


def extract(fixture_dir: str) -> dict:
    out = {}
    for name in TABLES:
        table = pq.read_table(f"{fixture_dir}/{name}.parquet")
        out[name] = {"rows": table.num_rows,
                     "columns": {c: column_domain(table[c]) for c in table.column_names}}
    docs = pq.read_table(f"{fixture_dir}/documents.parquet")["text"].to_pylist()
    out["documents"]["vocabulary"] = sorted({w for t in docs for w in t.split()})
    words = [len(t.split()) for t in docs]
    out["documents"]["words_per_doc"] = [min(words), max(words)]
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: extract_domains.py <fixture_dir>")
    json.dump(extract(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    sys.stdout.write("\n")
