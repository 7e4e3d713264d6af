"""Run the benchmark on several seeds and report each end-to-end metric's
median and run-to-run spread (quartile distance over the median) against
its bound in BENCHMARK.json. Run from the root of a checkout:

    python3 perfbench/stability.py --workloads warehouse_mix --seeds 1-10 --out runs.json

``--out`` keeps every run's metrics and report line, so two sets of runs
can be compared with ``--compare first.json second.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from harness import bound_violations, median_regressions, spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    started = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    report = next((json.loads(x[len("REPORT "):]) for x in lines if x.startswith("REPORT ")), {})
    return {"workload": workload, "seed": seed, "correct": result["correct"],
            "wall_s": time.perf_counter() - started,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "notes": report.get("notes", {})}


def summarize(runs: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in sorted({r["workload"] for r in runs}):
        mine = [r["metrics"] for r in runs if r["workload"] == workload]
        walls = [r["wall_s"] for r in runs if r["workload"] == workload]
        print(f"{workload}: {len(mine)} runs, all correct: "
              f"{all(r['correct'] for r in runs if r['workload'] == workload)}, "
              f"wall per run {statistics.fmean(walls):.1f}s (max {max(walls):.1f}s)")
        for name, bound in bounds.items():
            values = sorted(m[name] for m in mine)
            s = spread(values) if len(values) >= 2 else float("nan")
            flag = "OK" if s < bound / 3 else ("WIDE" if s <= bound else "OVER")
            print(f"  {name:14s} median {values[len(values) // 2]:10.4f}  spread {s:.3f}"
                  f"  bound {bound}  {flag}")
        over = bound_violations(mine, bounds)
        if over:
            print(f"  spread over bound: {over}")


def compare(first: list[dict], second: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    for workload in sorted({r["workload"] for r in first}):
        a = [r["metrics"] for r in first if r["workload"] == workload]
        b = [r["metrics"] for r in second if r["workload"] == workload]
        worse = median_regressions(a, b, bounds, better)
        print(f"{workload}: second median worse than bound: {worse or 'none'}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        compare(*sets, bench)
        return 0
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs = []
    for workload in names:
        for seed in args.seeds:
            runs.append(run_once(workload, seed, bench["run_seconds"]))
            print(json.dumps(runs[-1]), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    summarize(runs, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
