"""Pure helpers of the benchmark: latency summaries, canonical digests,
the run-to-run bound check and process memory readings. Nothing here
starts Spark, so the self-tests run in a plain interpreter."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from contract_canon import canon_hash  # noqa: E402  (the contract's canonicalization)

MIN_BEYOND = 10
TAIL_PERCENTILES = (99.99, 99.9) + tuple(range(99, 49, -1))


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)`` by nearest rank. A tail is never taken below
    the median: with fewer than 20 samples no percentile qualifies, and the
    maximum is returned as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100 * n)
        if n - rank >= MIN_BEYOND:
            return p, xs[rank - 1]
    return 100.0, xs[-1]


def spread(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def bound_violations(runs: list[dict[str, float]], bounds: dict[str, float],
                     exempt: tuple[str, ...] = ("setup_s",)) -> dict[str, float]:
    """Metrics whose run-to-run spread exceeds their bound, with the spread."""
    out = {}
    for name, bound in bounds.items():
        if name in exempt:
            continue
        s = spread([r[name] for r in runs])
        if s > bound:
            out[name] = s
    return out


def median_regressions(first: list[dict[str, float]], second: list[dict[str, float]],
                       bounds: dict[str, float], better: dict[str, str]) -> dict[str, float]:
    """Metrics whose second median is worse than the first by more than the
    bound, with the relative change (positive = worse)."""
    out = {}
    for name, bound in bounds.items():
        a = statistics.median(r[name] for r in first)
        b = statistics.median(r[name] for r in second)
        worse = (b - a) / a if better[name] == "lower" else (a - b) / a
        if worse > bound:
            out[name] = worse
    return out


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two frames hold the same rows under the contract's
    canonicalization, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if canon_hash(got) != canon_hash(want):
        return "values differ"
    return None


def id_digest(ids) -> str:
    """Order-insensitive digest of a set of integer ids."""
    return hashlib.sha256(",".join(str(int(i)) for i in sorted(ids)).encode()).hexdigest()


def reset_hwm(pid: int | str = "self") -> None:
    """Reset a process's VmHWM to its current resident set (Linux >= 4.0),
    so the peak counts only what runs after this call."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB, 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a directory, skipping hidden and
    underscore-prefixed entries the way Spark's readers do."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
