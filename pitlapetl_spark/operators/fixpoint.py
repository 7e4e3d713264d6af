"""One driver for the iterative operators and one step loop for the
driver-state gradient fits.

Each loop is a run of Pregel-style supersteps (Malewicz et al., SIGMOD
2010). ``fixpoint`` cuts the initial state, then each round's state,
with a lazy ``localCheckpoint``, so the plan holds one round whatever
the count and no round reads an uncut frame twice.
Under adaptive execution taking the cut runs the round's shuffle
stages, and the first job that reads the cut frame runs its last stage
and stores it. ``converged`` only ever reads cut frames, so that job is
the convergence test and no round runs twice. A convergence-tested
loop raises ``NotConverged`` rather than return an unconverged answer.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class NotConverged(RuntimeError):
    """A convergence-tested loop used up its rounds."""


def _cut(state: DataFrame) -> DataFrame:
    return state.localCheckpoint(eager=False)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    converged: Callable[[DataFrame], Hashable] | None = None,
) -> tuple[DataFrame, int]:
    """(final state, rounds run). ``step`` and ``converged`` only see cut
    frames, the initial state included. With no ``converged`` it runs
    exactly ``max_rounds``. Otherwise ``converged`` maps a cut state to
    a fingerprint (a count, an order-independent hash) and the loop
    stops at the first round that leaves it unchanged."""
    state = _cut(state)
    if converged is None:
        for _ in range(max_rounds):
            state = _cut(step(state))
        return state, max_rounds
    seen = converged(state)
    for rounds in range(1, max_rounds + 1):
        state = _cut(step(state))
        prev, seen = seen, converged(state)
        if seen == prev:
            return state, rounds
    raise NotConverged(f"no fixpoint in {max_rounds} rounds")


def linear(w: list[float]) -> Column:
    """The model ``w0 + w1*x1 + w2*x2`` under literal weights."""
    return F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")


def gradient_fit_ctes(feats_sql: str, residual_sql: str, lr: float, rounds: int) -> list[str]:
    """The oracle twin of ``gradient_fit``: CTEs ``f``, ``nn`` and
    ``w0``..``w{rounds}``; ``residual_sql`` reads weights aliased ``w``."""
    ctes = [
        f"f AS ({feats_sql})",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)",
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b,"
        " CAST(0.0 AS DOUBLE) AS c)",
    ]
    for i in range(rounds):
        ctes.append(
            f"""g{i} AS (
                SELECT sum(CAST({residual_sql} AS DECIMAL(28,12))) AS s0,
                       sum(CAST({residual_sql} * x1 AS DECIMAL(28,12))) AS s1,
                       sum(CAST({residual_sql} * x2 AS DECIMAL(28,12))) AS s2
                FROM f CROSS JOIN w{i} w)"""
        )
        ctes.append(
            f"""w{i + 1} AS (
                SELECT round(w.a - {lr} * CAST(g.s0 AS DOUBLE) / nn.n, 12) AS a,
                       round(w.b - {lr} * CAST(g.s1 AS DOUBLE) / nn.n, 12) AS b,
                       round(w.c - {lr} * CAST(g.s2 AS DOUBLE) / nn.n, 12) AS c
                FROM w{i} w CROSS JOIN g{i} g CROSS JOIN nn)"""
        )
    return ctes


def gradient_fit(
    feats: DataFrame,
    residual: Callable[[list[float]], Column],
    lr: float,
    rounds: int,
) -> tuple[DataFrame, list[float], int]:
    """(cut features, weights, n): full-batch gradient descent on the
    ``linear`` model. Each round is one aggregate of the three moments of
    ``residual(w)``, summed in exact decimal (order-independent), and
    the update ``round(w - lr * s / n, 12)``. The features are cut once,
    so rounds do not re-scan the source; counting them stores the cut."""
    feats = feats.localCheckpoint(eager=False)
    n = feats.count()
    dec = "decimal(28,12)"
    w = [0.0, 0.0, 0.0]
    for _ in range(rounds):
        g = residual(w)
        s = feats.agg(
            F.sum(g.cast(dec)),
            F.sum((g * F.col("x1")).cast(dec)),
            F.sum((g * F.col("x2")).cast(dec)),
        ).collect()[0]
        w = [round(w[j] - lr * float(s[j]) / n, 12) for j in range(3)]
    return feats, w, n
