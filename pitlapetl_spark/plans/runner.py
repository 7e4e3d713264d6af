"""The Airflow replacement's execution half: run the reference's seven
pipelines as idempotent Spark jobs against durable sinks, with a run
ledger and bounded retry — the primitive an EXTERNAL scheduler (cron,
systemd timers, any orchestrator) invokes per tick. Scheduling itself
stays external by design (SURVEY.md §7.1, BASELINE.json "Replace
Airflow orchestration with Spark jobs").

What Airflow provided and what replaces it here:

- **DAG schedule** -> the external tick. Every job is idempotent
  (keyed MERGE or staged overwrite), so overlapping or replayed ticks
  converge instead of corrupting — the same property the reference
  leans on (SURVEY.md §2.12 "freshness by re-running").
- **Task isolation** -> one driver thread per job, each with its own
  try/except and bounded retry, the way Airflow runs the seven DAGs
  side by side. The jobs write disjoint sinks (job names are unique
  and each holds its own ``_writer_lock`` lease), so they overlap on
  the executors; each thread inherits the caller's Spark job group
  and local properties, so every job stays attributed to the tick
  that fired it. One failing pipeline neither blocks nor poisons the
  others; the runner raises AFTER the sweep so the scheduler sees a
  nonzero exit while healthy sinks stay fresh. Records come back in
  manifest order whatever order the jobs finish in.
- **Metadata DB** -> an append-only parquet run ledger (job, attempt,
  status, rows, wall seconds, error) — queryable with the same engine,
  no extra service.

Sink modes mirror the reference's load styles (SURVEY.md §2.2):
keyed pipelines MERGE on their document key (K1/K2,
racedag.py:68-73); standings pipelines are staged truncate-and-reload
(K3, driverstandings.py:82-85 — improved to survive mid-write
failure). At 100 TB the keyed jobs would switch to
``merge_upsert_partition_scoped`` with a real partition column; the
manifest records the key so that swap is one line per job.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..registry import QUERIES, load_all
from ..session import run_in_driver_threads
from ..sinks import merge_upsert_write, overwrite
from ..sources import parquet_row_count


@dataclass(frozen=True)
class JobSpec:
    """One schedulable pipeline: which registered query, how it
    persists, and the reference DAG + cadence it replaces."""

    name: str
    query: str
    sink_mode: str  # "merge" (keyed) | "overwrite" (truncate-reload)
    key_cols: tuple[str, ...] = ()
    reference: str = ""  # reference DAG + its Airflow schedule


# the reference's seven DAGs (SURVEY.md §0/§3), cadence notes included
# so the external scheduler's crontab can be written from this table
JOB_MANIFEST: tuple[JobSpec, ...] = (
    JobSpec("race_results", "job_race_results", "merge", ("key",),
            "racedag.py (@weekly)"),
    JobSpec("qualifying_results", "job_qualifying_results", "merge", ("driverId",),
            "qualifyingdag.py (@weekly)"),
    JobSpec("practice_laps", "job_practice_laps", "merge", ("driver",),
            "practicedag.py (@weekly)"),
    JobSpec("schedule", "job_schedule", "merge", ("key",),
            "scheduledag.py (@daily)"),
    JobSpec("top_speeds", "flagship_top_value_per_user", "merge", ("c_custkey",),
            "topspeed.py (@weekly)"),
    JobSpec("driver_standings", "job_driver_standings", "overwrite", (),
            "driverstandings.py (@daily, truncate-and-reload)"),
    JobSpec("constructor_standings", "job_constructor_standings", "overwrite", (),
            "constructorstandings.py (@daily, truncate-and-reload)"),
)


@dataclass(frozen=True)
class RunRecord:
    job: str
    attempt: int
    status: str  # "ok" | "failed"
    rows: int
    seconds: float
    error: str | None


class PipelineFailure(RuntimeError):
    """A tick completed its sweep but >=1 job exhausted its retries.
    Carries the full attempt ``records`` (healthy jobs included) so
    callers — the CLI in particular — can report what DID run instead
    of losing the sweep's outcome to the raise (ADVICE r4)."""

    def __init__(self, msg: str, records: list[RunRecord]):
        super().__init__(msg)
        self.records = records


def _persist(spec: JobSpec, df: DataFrame, out_dir: str) -> int:
    path = f"{out_dir}/{spec.name}"
    if spec.sink_mode == "merge":
        merge_upsert_write(df, path, list(spec.key_cols))
    elif spec.sink_mode == "overwrite":
        overwrite(df, path)
    else:
        raise ValueError(f"unknown sink_mode {spec.sink_mode!r}")
    # ledger metric = TABLE rows after the persist (consistent across
    # sink modes), read from parquet footer metadata — no Spark job
    return parquet_row_count(path)


def _run_job(
    spark: SparkSession,
    spec: JobSpec,
    fns: dict[str, Callable],
    sf_dir: str,
    out_dir: str,
    max_attempts: int,
) -> list[RunRecord]:
    """Every attempt of one job, up to its first success."""
    records: list[RunRecord] = []
    for attempt in range(1, max_attempts + 1):
        t0 = time.perf_counter()
        try:
            n = _persist(spec, fns[spec.query](spark, sf_dir), out_dir)
        except Exception:
            records.append(
                RunRecord(
                    spec.name, attempt, "failed", 0,
                    time.perf_counter() - t0,
                    traceback.format_exc(limit=-5),  # innermost frames: the error site
                )
            )
            continue
        records.append(
            RunRecord(spec.name, attempt, "ok", n, time.perf_counter() - t0, None)
        )
        break
    return records


def _append_ledger(spark: SparkSession, rows: list[tuple], ddl: str, path: str) -> None:
    """Append ``rows`` (one tuple per record, in ``ddl`` column order)
    to the parquet ledger at ``path`` as one file. The frame is built
    from pandas so the conversion runs through Arrow in the driver; a
    Python list would start a Python-worker job on every append."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=[c.split()[0] for c in ddl.split(",")])
    spark.createDataFrame(pdf, ddl).coalesce(1).write.mode("append").parquet(path)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    jobs: tuple[JobSpec, ...] = JOB_MANIFEST,
    max_attempts: int = 2,
    query_fns: dict[str, Callable] | None = None,
    write_ledger: bool = True,
) -> list[RunRecord]:
    """One scheduler tick: run every job concurrently, one driver
    thread each, persist each through its idempotent sink, append the
    attempts to the run ledger in manifest order, and raise AFTER the
    sweep if any job exhausted its retries. ``query_fns`` lets tests
    inject flaky jobs without touching the registry."""
    if max_attempts < 1:
        # range(1, 1) would run ZERO jobs yet exit 0 — a misconfigured
        # scheduler tick must fail loudly, not record a clean no-op
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    names = [spec.name for spec in jobs]
    repeated = sorted({n for n in names if names.count(n) > 1})
    if repeated:
        # a job's name is its sink path: two concurrent jobs with one
        # name would race on one table (ConcurrentWriterError mid-sweep)
        raise ValueError(f"job names must be unique, repeated: {repeated}")
    load_all()
    fns = query_fns if query_fns is not None else QUERIES
    per_job = run_in_driver_threads(
        lambda spec=spec: _run_job(spark, spec, fns, sf_dir, out_dir, max_attempts)
        for spec in jobs
    )
    records = [r for job_records in per_job for r in job_records]
    if write_ledger:
        _append_ledger(
            spark,
            [(r.job, r.attempt, r.status, r.rows, r.seconds, r.error) for r in records],
            "job STRING, attempt INT, status STRING, rows LONG, "
            "seconds DOUBLE, error STRING",
            f"{out_dir}/_run_ledger",
        )
    dead = sorted(
        {r.job for r in records if r.status == "failed"}
        - {r.job for r in records if r.status == "ok"}
    )
    if dead:
        raise PipelineFailure(
            f"jobs failed after {max_attempts} attempt(s): {dead} "
            f"(other sinks are fresh; see {out_dir}/_run_ledger)",
            records,
        )
    return records


# --------------------------------------------------- backfill runner
# Airflow's other half-feature the manifest runner didn't cover:
# CATCHUP. A scheduled daily job that was down for a window needs its
# missed logical dates re-run — one isolated, idempotent unit per
# day, skipping days already materialized (Airflow's catchup=True
# semantics) unless forced. Each day writes through the staged swap
# into its own day=YYYY-MM-DD directory, so a mid-window failure
# leaves every other day fresh and a re-run converges; the ledger
# records per-day attempts with a "skipped" status for idempotent
# no-ops, which is what lets an operator read "the backfill did
# nothing because nothing was missing" off the ledger instead of
# guessing. At 100 TB each day-unit is an independent Spark job over
# one partition's worth of input — the natural parallelism axis an
# external scheduler fans out.


@dataclass(frozen=True)
class BackfillRecord:
    job: str
    day: str
    status: str  # "ok" | "skipped" | "failed"
    rows: int
    seconds: float
    error: str | None


def run_backfill(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    job: str,
    days: list[str],
    build_day: Callable[[SparkSession, str, str], DataFrame],
    force: bool = False,
    write_ledger: bool = True,
) -> list[BackfillRecord]:
    """Re-run ``build_day(spark, sf_dir, day)`` for every logical day
    in ``days``, materializing each into ``out_dir/job/day=<day>`` via
    the crash-safe staged swap. Days whose partition already exists
    are SKIPPED (catchup semantics) unless ``force``; failures are
    isolated per day and raised after the sweep (same contract as
    run_pipeline)."""
    import os

    from ..sinks import staged_swap

    records: list[BackfillRecord] = []
    for day in days:
        path = f"{out_dir}/{job}/day={day}"
        t0 = time.perf_counter()
        if not force and os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            records.append(
                BackfillRecord(job, day, "skipped", parquet_row_count(path),
                               time.perf_counter() - t0, None)
            )
            continue
        try:
            staged_swap(build_day(spark, sf_dir, day), path)
            records.append(
                BackfillRecord(job, day, "ok", parquet_row_count(path),
                               time.perf_counter() - t0, None)
            )
        except Exception:
            records.append(
                BackfillRecord(job, day, "failed", 0,
                               time.perf_counter() - t0,
                               traceback.format_exc(limit=-5))
            )
    if write_ledger:
        _append_ledger(
            spark,
            [(r.job, r.day, r.status, r.rows, r.seconds, r.error) for r in records],
            "job STRING, day STRING, status STRING, rows LONG, "
            "seconds DOUBLE, error STRING",
            f"{out_dir}/_backfill_ledger",
        )
    dead = sorted(r.day for r in records if r.status == "failed")
    if dead:
        # carry the full sweep records per PipelineFailure's contract
        # (callers report what DID run — review catch: an empty list
        # here lost the 29 healthy days of a 30-day sweep)
        raise PipelineFailure(
            f"backfill days failed: {dead} (other days are fresh; "
            f"see {out_dir}/_backfill_ledger)",
            records,
        )
    return records


def daily_order_rollup(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    """The canonical backfillable day-unit: one logical day's order
    rollup (count + DECIMAL revenue per priority). The day filter is a
    pushable equality predicate — each backfill unit scans only its
    day at any scale."""
    from pyspark.sql import functions as F

    from ..sources import load_table

    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") == F.lit(day).cast("date"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
