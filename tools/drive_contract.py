"""Fresh-process driver emulation per .claude/skills/verify: smoke
entry(), then every queries()[name] vs oracle_sql()[name] at sf0.01.
Writes per-query results to PARITY_LOCAL.json — the artifact
tools/gen_coverage.py folds into COVERAGE.md's generated status table.

    python tools/drive_contract.py              # every query; writes PARITY_LOCAL.json
    python tools/drive_contract.py NAME [NAME]  # only the named queries; writes nothing

An unknown NAME exits with status 2 before Spark starts."""
import json, os, sys
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e
from contract_canon import canon_rows  # shared with perfbench/harness.py

names = sys.argv[1:]
qs, oracles = e.queries(), e.oracle_sql()
unknown = [n for n in names if n not in qs]
if unknown:
    print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
    sys.exit(2)
if names:
    qs = {n: qs[n] for n in names}

spark = (SparkSession.builder.master("local[8]")
    .appName("drive_contract")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

if not names:
    rows = e.entry(spark).collect()
    assert len(rows) > 0, "entry() returned 0 rows"
    print(f"entry() OK: {len(rows)} rows", flush=True)

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

fails, results = [], {}
for name, fn in qs.items():
    sql = oracles.get(name)
    try:
        sdf = fn(spark, SF).toPandas()
        if sql is None:
            print(f"{name}: rows-only rows={len(sdf)}", flush=True)
            results[name] = {"status": "rows_only", "spark_rows": len(sdf)}
            continue
        odf = con.execute(sql).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        srows, orows = (canon_rows(sdf), canon_rows(odf)) if ok_cols else ([], [])
        ok_hash = ok_rows and ok_cols and srows == orows
        status = "OK" if (ok_rows and ok_cols and ok_hash) else f"FAIL rows={ok_rows} cols={ok_cols} hash={ok_hash} ({len(sdf)} vs {len(odf)})"
        if not (ok_rows and ok_cols and ok_hash):
            fails.append(name)
        results[name] = {
            "status": "ok" if (ok_rows and ok_cols and ok_hash) else "fail",
            "spark_rows": len(sdf), "oracle_rows": len(odf),
        }
        print(f"{name}: {status}", flush=True)
        if not ok_cols:
            print("  spark cols ", sorted(sdf.columns), "\n  oracle cols", sorted(odf.columns))
        for a, b in [(a, b) for a, b in zip(srows, orows) if a != b][:3]:
            print("  spark :", a[:220], "\n  oracle:", b[:220])
    except Exception as ex:
        fails.append(name)
        results[name] = {"status": "err", "err": f"{type(ex).__name__}: {str(ex)[:200]}"}
        print(f"{name}: ERR {type(ex).__name__}: {str(ex)[:200]}", flush=True)

if not names:
    with open(os.path.join(REPO, "PARITY_LOCAL.json"), "w") as f:
        json.dump({"sf": SF, "results": results}, f, indent=1)
print(f"\n{len(qs)} queries, {len(fails)} failing: {fails}")
sys.exit(1 if fails else 0)
