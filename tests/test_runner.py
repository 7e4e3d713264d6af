"""The Airflow-replacement runner (plans/runner.py): idempotent
convergence across ticks, task isolation with bounded retry, and the
run ledger as the metadata record."""

from __future__ import annotations

import os
import threading

import pytest

from pitlapetl_spark.plans import runner
from pitlapetl_spark.plans.runner import JOB_MANIFEST, JobSpec, run_pipeline
from pitlapetl_spark.registry import QUERIES, load_all
from tests.conftest import SF_SMOKE

load_all()


def _tables(spark, out_dir):
    return {
        spec.name: sorted(
            tuple(r) for r in spark.read.parquet(f"{out_dir}/{spec.name}").collect()
        )
        for spec in JOB_MANIFEST
    }


def test_two_ticks_converge_and_ledger_records_all(spark, tmp_path):
    """Running the whole pipeline twice (the overlapping-tick /
    replayed-tick case Airflow guards with its scheduler lock) must
    converge to identical table states, and the ledger must carry one
    ok row per job per tick."""
    out = str(tmp_path / "warehouse")
    r1 = run_pipeline(spark, SF_SMOKE, out)
    state1 = _tables(spark, out)
    r2 = run_pipeline(spark, SF_SMOKE, out)
    assert _tables(spark, out) == state1
    assert [r.status for r in r1 + r2] == ["ok"] * (2 * len(JOB_MANIFEST))
    ledger = spark.read.parquet(f"{out}/_run_ledger")
    assert ledger.filter("status = 'ok'").count() == 2 * len(JOB_MANIFEST)
    assert {r.job for r in ledger.collect()} == {s.name for s in JOB_MANIFEST}


def test_flaky_job_retries_and_other_jobs_unaffected(spark, tmp_path):
    """A job that fails once must retry and succeed within the same
    tick; a job that always fails must not block the others — its
    error surfaces AFTER the sweep, with every healthy sink fresh."""
    out = str(tmp_path / "warehouse")
    calls = {"n": 0}

    def flaky(spark_, sf_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return QUERIES["job_schedule"](spark_, sf_dir)

    def dead(spark_, sf_dir):
        raise RuntimeError("permanent")

    fns = dict(QUERIES)
    fns["job_schedule"] = flaky
    fns["job_driver_standings"] = dead

    with pytest.raises(RuntimeError, match="driver_standings"):
        run_pipeline(spark, SF_SMOKE, out, query_fns=fns)

    ledger = {
        (r.job, r.attempt): r.status
        for r in spark.read.parquet(f"{out}/_run_ledger").collect()
    }
    assert ledger[("schedule", 1)] == "failed"
    assert ledger[("schedule", 2)] == "ok"
    assert ledger[("driver_standings", 1)] == "failed"
    assert ledger[("driver_standings", 2)] == "failed"
    # healthy sinks written despite the dead job
    assert spark.read.parquet(f"{out}/race_results").count() > 0
    assert spark.read.parquet(f"{out}/schedule").count() > 0
    # the dead job's sink was never created
    assert not os.path.exists(f"{out}/driver_standings")


def test_zero_max_attempts_fails_loudly(spark, tmp_path):
    """max_attempts < 1 would run zero jobs yet exit clean — the
    runner must reject it instead of recording a successful no-op."""
    with pytest.raises(ValueError, match="max_attempts"):
        run_pipeline(spark, SF_SMOKE, str(tmp_path / "wh"), max_attempts=0)


def _small_jobs(*names):
    """Overwrite-sink jobs over tiny injected queries, one per name."""
    return tuple(JobSpec(n, f"q_{n}", "overwrite") for n in names)


def _rows(spark_, n=3):
    return spark_.range(n).withColumnRenamed("id", "v")


def test_duplicate_job_names_rejected_up_front(spark, tmp_path):
    """A job's name is its sink path: two concurrent jobs sharing one
    would race on one table and fail mid-sweep, so the tick must refuse
    before any job runs."""
    out = str(tmp_path / "wh")
    jobs = _small_jobs("a", "b") + (JobSpec("a", "q_b", "overwrite"),)
    fns = {"q_a": lambda s, _d: _rows(s), "q_b": lambda s, _d: _rows(s)}
    with pytest.raises(ValueError, match=r"unique.*\['a'\]"):
        run_pipeline(spark, SF_SMOKE, out, jobs=jobs, query_fns=fns)
    assert not os.path.exists(out)


def test_jobs_run_concurrently(spark, tmp_path):
    """Both job queries must be in flight at once: each waits on a
    two-party barrier, which breaks (failing the tick) if the runner
    ran the jobs one after another."""
    barrier = threading.Barrier(2, timeout=30)

    def meet(spark_, _sf_dir):
        barrier.wait()
        return _rows(spark_)

    records = run_pipeline(
        spark, SF_SMOKE, str(tmp_path / "wh"), jobs=_small_jobs("a", "b"),
        query_fns={"q_a": meet, "q_b": meet}, max_attempts=1,
    )
    assert [(r.job, r.status) for r in records] == [("a", "ok"), ("b", "ok")]


def test_records_and_ledger_keep_manifest_order(spark, tmp_path, monkeypatch):
    """The later job finishes first; records and ledger rows still
    come back in manifest order."""
    out = str(tmp_path / "wh")
    finished: list[str] = []
    b_done = threading.Event()
    persist = runner._persist

    def ordered_persist(spec, df, out_dir):
        if spec.name == "a":
            assert b_done.wait(30)
        n = persist(spec, df, out_dir)
        finished.append(spec.name)
        if spec.name == "b":
            b_done.set()
        return n

    monkeypatch.setattr(runner, "_persist", ordered_persist)
    fns = {"q_a": lambda s, _d: _rows(s, 2), "q_b": lambda s, _d: _rows(s, 5)}
    records = run_pipeline(spark, SF_SMOKE, out, jobs=_small_jobs("a", "b"),
                           query_fns=fns)
    assert finished == ["b", "a"]
    assert [(r.job, r.rows) for r in records] == [("a", 2), ("b", 5)]
    ledger = spark.read.parquet(f"{out}/_run_ledger").collect()
    assert [(r.job, r.rows) for r in ledger] == [("a", 2), ("b", 5)]


def test_job_threads_inherit_caller_local_properties(spark, tmp_path):
    """A job runs on its own driver thread but must see the caller's
    local properties, job group included, so Spark jobs it fires stay
    attributed to the caller."""
    sc = spark.sparkContext
    seen = {}

    def probe(spark_, _sf_dir):
        seen["prop"] = sc.getLocalProperty("pitlap.test.tick")
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return _rows(spark_)

    sc.setLocalProperty("pitlap.test.tick", "tick-7")
    sc.setJobGroup("runner-test-group", "inheritance probe")
    try:
        run_pipeline(spark, SF_SMOKE, str(tmp_path / "wh"),
                     jobs=_small_jobs("a"), query_fns={"q_a": probe})
    finally:
        for key in ("pitlap.test.tick", "spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert seen == {"prop": "tick-7", "group": "runner-test-group"}


def test_ledger_schema_is_exact_even_with_all_null_errors(spark, tmp_path):
    """The run ledger keeps its declared column types, also for a tick
    whose error column is entirely null (all jobs ok) and a later tick
    that carries an error; the backfill ledger likewise."""
    from pitlapetl_spark.plans.runner import PipelineFailure, run_backfill

    out = str(tmp_path / "wh")
    run_pipeline(spark, SF_SMOKE, out, jobs=_small_jobs("a"),
                 query_fns={"q_a": lambda s, _d: _rows(s)})
    ledger = spark.read.parquet(f"{out}/_run_ledger")
    assert ledger.schema.simpleString() == (
        "struct<job:string,attempt:int,status:string,rows:bigint,"
        "seconds:double,error:string>"
    )
    assert [(r.job, r.attempt, r.status, r.rows, r.error) for r in ledger.collect()] == [
        ("a", 1, "ok", 3, None)
    ]

    def boom(spark_, _sf_dir):
        raise RuntimeError("boom")

    with pytest.raises(PipelineFailure):
        run_pipeline(spark, SF_SMOKE, out, jobs=_small_jobs("a"),
                     query_fns={"q_a": boom}, max_attempts=1)
    errors = [r.error for r in spark.read.parquet(f"{out}/_run_ledger").collect()]
    assert None in errors and any(e and "boom" in e for e in errors)

    run_backfill(spark, SF_SMOKE, out, "tiny", ["1995-01-01"],
                 lambda s, _d, _day: _rows(s))
    assert spark.read.parquet(f"{out}/_backfill_ledger").schema.simpleString() == (
        "struct<job:string,day:string,status:string,rows:bigint,"
        "seconds:double,error:string>"
    )


def test_driver_threads_keep_every_result_and_join_before_raising(spark):
    """More threads than cores under a tiny switch interval: every
    result lands at its own index, and a failure is raised only after
    every other thread has finished."""
    import sys
    import time

    from pitlapetl_spark.session import run_in_driver_threads

    n = 4 * (os.cpu_count() or 1)
    slow_done = threading.Event()

    def slow():
        time.sleep(0.2)
        slow_done.set()

    def boom():
        raise RuntimeError("boom")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = run_in_driver_threads(lambda i=i: sum(range(i * 1000)) for i in range(n))
        with pytest.raises(RuntimeError, match="boom"):
            run_in_driver_threads([boom, slow])
    finally:
        sys.setswitchinterval(interval)
    assert out == [sum(range(i * 1000)) for i in range(n)]
    assert slow_done.is_set()


def test_backfill_catchup_skips_existing_days(spark, tmp_path):
    """First backfill materializes every day; a second run over the
    same window is all 'skipped' no-ops (Airflow catchup semantics)
    with identical partition contents; force=True re-runs."""
    from pitlapetl_spark.plans.runner import daily_order_rollup, run_backfill

    out = str(tmp_path / "wh")
    days = ["1995-01-01", "1995-01-02", "1995-01-03"]
    first = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days, daily_order_rollup
    )
    assert [r.status for r in first] == ["ok"] * 3
    before = {
        d: sorted(
            map(tuple, spark.read.parquet(f"{out}/daily_rollup/day={d}").collect())
        )
        for d in days
    }
    second = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days, daily_order_rollup
    )
    assert [r.status for r in second] == ["skipped"] * 3
    for d in days:
        after = sorted(
            map(tuple, spark.read.parquet(f"{out}/daily_rollup/day={d}").collect())
        )
        assert after == before[d]
    forced = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days[:1], daily_order_rollup,
        force=True,
    )
    assert [r.status for r in forced] == ["ok"]
    # ledger carries all three sweeps
    ledger = spark.read.parquet(f"{out}/_backfill_ledger")
    assert ledger.count() == 7


def test_backfill_failure_isolated_per_day(spark, tmp_path):
    """A day-unit that raises must not poison the other days: healthy
    days are fresh on disk, the sweep raises AFTER completing, and a
    rerun heals only the hole."""
    import pytest as _pytest

    from pitlapetl_spark.plans.runner import (
        PipelineFailure,
        daily_order_rollup,
        run_backfill,
    )

    out = str(tmp_path / "wh")
    days = ["1995-01-01", "1995-01-02", "1995-01-03"]

    def flaky(spark_, sf_dir_, day):
        if day == "1995-01-02":
            raise RuntimeError("boom")
        return daily_order_rollup(spark_, sf_dir_, day)

    with _pytest.raises(PipelineFailure, match="1995-01-02"):
        run_backfill(spark, SF_SMOKE, out, "daily_rollup", days, flaky)
    import os

    assert os.path.isdir(f"{out}/daily_rollup/day=1995-01-01")
    assert os.path.isdir(f"{out}/daily_rollup/day=1995-01-03")
    assert not os.path.isdir(f"{out}/daily_rollup/day=1995-01-02")
    # the healing rerun: only the hole runs, the rest skip
    healed = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days, daily_order_rollup
    )
    assert {r.day: r.status for r in healed} == {
        "1995-01-01": "skipped",
        "1995-01-02": "ok",
        "1995-01-03": "skipped",
    }
