"""Regenerate COVERAGE.md's verification-status table from artifacts.

Round-2 post-mortem (VERDICT.md r2 item 5): COVERAGE.md's hand-written
check marks went stale when the testdata regeneration broke
ts-dependent queries — the prose claimed green while the artifacts said
red. This script makes the status column MECHANICAL: for every
registered query it merges

  - the latest driver row from CORRECTNESS_r*.json (highest round wins),
  - the local sf0.01 parity result from PARITY_LOCAL.json
    (written by tools/drive_contract.py),

and rewrites the block between the GENERATED-STATUS markers in
COVERAGE.md. Prose sections map operators to query names; THIS table is
the only place correctness is claimed.

Run: python tools/gen_coverage.py   (after tools/drive_contract.py)
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BEGIN = "<!-- BEGIN GENERATED STATUS (tools/gen_coverage.py) -->"
END = "<!-- END GENERATED STATUS -->"


def driver_history() -> dict[str, tuple[int, dict]]:
    """name -> (latest round with a row, that row)."""
    latest: dict[str, tuple[int, dict]] = {}
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", p.name).group(1))
        for name, row in json.loads(p.read_text()).items():
            latest[name] = (rnd, row)
    return latest


def fmt_driver(entry: tuple[int, dict] | None) -> str:
    if entry is None:
        return "never"
    rnd, row = entry
    if row.get("err") == "no_oracle":
        st = f"rows-only ({row.get('spark_rows')} rows)"
    elif row.get("err"):
        st = f"ERR {row['err']}"
    elif row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
        st = "green"
    else:
        st = "RED"
    return f"r{rnd} {st}"


def fmt_local(row: dict | None) -> str:
    if row is None:
        return "—"
    return {
        "ok": "green",
        "rows_only": f"rows-only ({row.get('spark_rows')} rows)",
        "fail": "RED",
        "err": f"ERR {row.get('err', '')[:60]}",
    }[row["status"]]


def main() -> None:
    from pitlapetl_spark import registry

    qs, oracles = registry.all_queries(), registry.all_oracles()
    driver = driver_history()
    local_path = REPO / "PARITY_LOCAL.json"
    local = (
        json.loads(local_path.read_text())["results"] if local_path.exists() else {}
    )

    lines = [
        BEGIN,
        "",
        "## Verification status (generated — do not edit by hand)",
        "",
        "One row per registered query. `driver` = latest row across all",
        "`CORRECTNESS_r*.json` (the external driver's sf0.01 DuckDB",
        "hash-compare); `local` = `PARITY_LOCAL.json` from the last",
        "`tools/drive_contract.py` run (same check, run locally). A query",
        "is *currently proven* only if at least one column is green on",
        "data of the current generation. An alias is a second name",
        "registered on the same function as an earlier one.",
        "",
        "| query | oracle | driver | local |",
        "|---|---|---|---|",
    ]
    first_name: dict[int, str] = {}  # id(fn) -> first name registered for it
    for name in qs:
        oracle = "sql" if name in oracles else "rows-only"
        primary = first_name.setdefault(id(qs[name]), name)
        if primary != name:
            oracle += f", alias of `{primary}`"
        lines.append(
            f"| `{name}` | {oracle} "
            f"| {fmt_driver(driver.get(name))} | {fmt_local(local.get(name))} |"
        )
    n_green_local = sum(1 for r in local.values() if r["status"] == "ok")
    n_driver_ever = sum(1 for n in qs if n in driver)
    lines += [
        "",
        f"Totals: {len(qs)} registered; {n_driver_ever} driver-verified ever; "
        f"{n_green_local} green in the last local parity run.",
        "",
        END,
    ]

    cov = (REPO / "COVERAGE.md").read_text()
    block = "\n".join(lines)
    if BEGIN in cov:
        cov = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), block, cov, flags=re.S
        )
    else:
        cov = cov.rstrip() + "\n\n" + block + "\n"
    (REPO / "COVERAGE.md").write_text(cov)
    print(f"COVERAGE.md status table regenerated: {len(qs)} queries")


if __name__ == "__main__":
    main()
