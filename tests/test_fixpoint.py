"""The shared fixpoint driver of the iterative operators: one lazy cut
per round, convergence measured on cut frames, one error when a
convergence-tested loop runs out of rounds."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pitlapetl_spark.operators.fixpoint import NotConverged, fixpoint


def _step(ids: DataFrame, cap: int | None = None):
    """One join per round: every row's v goes up by one (up to cap)."""

    def step(state: DataFrame) -> DataFrame:
        v = F.col("v") + 1
        return state.join(ids, "id").select(
            "id", (v if cap is None else F.least(v, F.lit(cap))).alias("v")
        )

    return step


def _is_cut(df: DataFrame) -> bool:
    return df._jdf.queryExecution().logical().toString().startswith("LogicalRDD")


def test_fixed_count_runs_max_rounds_and_plan_holds_one_round(spark):
    ids = spark.range(8)
    calls = []
    step = _step(ids)

    def counted(state: DataFrame) -> DataFrame:
        calls.append(state)
        return step(state)

    out, rounds = fixpoint(ids.withColumn("v", F.lit(0)), counted, 5)
    assert rounds == 5 and len(calls) == 5
    assert all(_is_cut(s) for s in calls)
    assert sorted(r.v for r in out.collect()) == [5] * 8
    # the state is cut every round: one more round's plan holds one
    # join, not the six an uncut unroll would chain
    plan = step(out)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1


def test_converged_is_measured_on_cut_frames_and_stops(spark):
    ids = spark.range(4)
    seen = []

    def total(state: DataFrame) -> int:
        seen.append(_is_cut(state))
        return state.agg(F.sum("v")).collect()[0][0]

    out, rounds = fixpoint(ids.withColumn("v", F.lit(0)), _step(ids, cap=3), 10, total)
    assert rounds == 4  # 0 -> 1 -> 2 -> 3, and the round that confirms it
    assert seen == [True] * 5
    assert sorted(r.v for r in out.collect()) == [3] * 4


def test_never_converging_step_raises(spark):
    ids = spark.range(4)
    with pytest.raises(NotConverged, match="3 rounds"):
        fixpoint(
            ids.withColumn("v", F.lit(0)),
            _step(ids),
            3,
            lambda s: s.agg(F.sum("v")).collect()[0][0],
        )
