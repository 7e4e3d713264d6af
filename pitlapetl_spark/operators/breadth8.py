"""Round-8 breadth operators.

Cross-engine determinism devices as established: md5-derived hashes
(Spark ``conv(substr(md5(..)))`` == DuckDB ``'0x' || substr(md5(..))``
via functions.text.hash_bucket / oracle_hash_bucket), integer
arithmetic wherever a ratio or count is compared, round(6) on any
accumulated double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hash_bucket, oracle_hash_bucket, sql_in
from ..registry import query
from ..sources import load_table
from .breadth7 import (
    DAILY_SERIES_ORACLE_CTES,
    SPLIT_GINI_SQL,
    STUMP_CUTS,
    daily_value_series,
    split_counts,
    split_gini,
    urgent_value_rows,
)

# ------------------------- heavy hitters, gated two-pass (count-min)
#
# The production completion of stats.py's agg_heavy_hitters_cms: that
# operator probes EVERY distinct key against the sketch because its
# job is verifying the overestimate property against exact truth, and
# its docstring defers the real shape — "in production the candidate
# set comes from a cheap pre-pass, not a full distinct". This is that
# pre-pass, shipped: at 100 TB you cannot groupBy every key to find
# the hot ones — the full-key shuffle IS the problem the answer is
# supposed to prevent. Two passes instead:
#   1. SKETCH: a count-min sketch as a plain aggregation — every row
#      contributes one count to one bucket per depth, so the state is
#      DEPTH x WIDTH longs (fixed, map-side combinable, broadcastable).
#   2. GATE + VERIFY: re-scan, estimate each row's key as the min of
#      its bucket counts (CMS never underestimates -> no false
#      negatives), keep only rows whose estimate clears the threshold,
#      and exact-count just those — the groupBy now touches only the
#      handful of candidate keys, and map-side combine collapses their
#      (numerous) rows inside each partition.
# The result is EXACT (the verify pass removes CMS false positives);
# the sketch decides what is worth counting, never what the count is.
# cms_estimate is emitted alongside so the sketch arithmetic itself is
# hash-checked against the oracle's replay of the same md5 buckets.

CMS_DEPTH = 4  # independent hash rows (seeds "cms{j}|")
CMS_WIDTH = 256
HH_THRESHOLD = 80  # absolute support; phi*N in a production pipeline


def _cms_oracle() -> str:
    b_exprs = ", ".join(
        oracle_hash_bucket(f"'cms{j}|' || key", CMS_WIDTH) + f" AS b{j}"
        for j in range(CMS_DEPTH)
    )
    unions = "\n          UNION ALL ".join(
        f"SELECT {j} AS depth, b{j} AS bucket FROM b"
        for j in range(CMS_DEPTH)
    )
    est_joins = "\n        ".join(
        f"JOIN sketch s{j} ON s{j}.depth = {j} AND s{j}.bucket = b.b{j}"
        for j in range(CMS_DEPTH)
    )
    least = ", ".join(f"s{j}.c" for j in range(CMS_DEPTH))
    return f"""
    WITH k AS (
        SELECT user_id, CAST(user_id AS VARCHAR) AS key FROM events
    ),
    b AS (SELECT user_id, {b_exprs} FROM k),
    sketch AS (
        SELECT depth, bucket, CAST(count(*) AS BIGINT) AS c FROM (
          {unions}
        ) GROUP BY 1, 2
    ),
    est AS (
        SELECT b.user_id, least({least}) AS est
        FROM b
        {est_joins}
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS exact_count,
           CAST(min(est) AS BIGINT) AS cms_estimate
    FROM est
    GROUP BY 1
    HAVING count(*) >= {HH_THRESHOLD}
    """


@query("agg_heavy_hitters_gated", oracle=_cms_oracle())
def agg_heavy_hitters_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (users with >= {HH_THRESHOLD} events) found
    via the count-min two-pass plan (block comment above)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("user_id").cast("string").alias("key")
    )
    rows = ev.select(
        "user_id",
        *[
            hash_bucket(
                F.concat(F.lit(f"cms{j}|"), F.col("key")), CMS_WIDTH
            ).alias(f"b{j}")
            for j in range(CMS_DEPTH)
        ],
    )
    # the sketch is DEPTH x WIDTH counters; each of the CMS_DEPTH
    # broadcast builds below consumes one depth slice — without the
    # lineage cut every build re-ran the full events scan + sketch
    # aggregate (observed: 5 FileScans in the plan for a 1,024-row
    # sketch; guide §1.2)
    sketch = (
        rows.select(
            F.posexplode(
                F.array(*[F.col(f"b{j}") for j in range(CMS_DEPTH)])
            ).alias("depth", "bucket")
        )
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    est = rows
    for j in range(CMS_DEPTH):
        sj = sketch.filter(F.col("depth") == j).select(
            F.col("bucket").alias(f"b{j}"), F.col("c").alias(f"c{j}")
        )
        est = est.join(F.broadcast(sj), f"b{j}")
    est = est.select(
        "user_id",
        F.least(*[F.col(f"c{j}") for j in range(CMS_DEPTH)]).alias("est"),
    )
    # gate rows on the (never-underestimating) sketch, THEN exact-count
    # only the surviving candidate keys; the having-filter removes CMS
    # false positives so the output is exact
    return (
        est.filter(F.col("est") >= HH_THRESHOLD)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("exact_count"),
            F.min("est").alias("cms_estimate"),
        )
        .filter(F.col("exact_count") >= HH_THRESHOLD)
    )


# --------------------------------- HyperLogLog distinct (replayable)
#
# The oracle-checked twin of agg_approx_sketches' approx_count_distinct
# (Spark's internal HLL++ — correct but unreplayable, hence that
# query's rows-only waiver): a from-scratch HLL whose every step is
# engine-portable SQL, so DuckDB replays it bit-for-bit. Devices:
#   - register index = first 2 md5 hex chars (8 bits -> m=256),
#   - rho = leading-zero count of the next 60 bits + 1, computed as
#     61 - length(binary repr) with the '0' string special-cased —
#     Spark conv(hex,16,2) and DuckDB bin() both print unpadded,
#   - the harmonic sum uses a COMMON 2^61 DENOMINATOR so every term
#     2^-M becomes the exact integer 1 << (61-M), summed in
#     DECIMAL(38,0); no pow() anywhere (DuckDB's pow(2,-3) is off by
#     an ulp — measured — and a per-term ulp breaks the value hash),
#   - the final alpha*m^2/sum division happens once, in double, from
#     identical exact inputs, round(6)-ed.
# Duplicate rows hash identically, so the sketch needs NO distinct
# pass — the one full-width op is a 256-group max. The exact distinct
# count rides along as the verifier column (one extra agg at test
# scale; production drops it). m=256 -> expected rel. error
# 1.04/sqrt(256) ~= 6.5%.

HLL_M = 256  # registers (2^8)
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # standard bias constant
_POW2_61 = 1 << 61
# the whole numerator alpha * m^2 * 2^61 as ONE Python-computed double
# literal embedded in BOTH engines — DuckDB types a long decimal
# literal as DECIMAL and overflows the product chain; a single float
# literal is DOUBLE everywhere and the division below is one IEEE op
# from identical inputs
_HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(_POW2_61)


def hll_rho_cte_sql(key_sql: str, rel: str, extra_col: str = "") -> str:
    """CTE body producing ([extra_col,] bucket, rho) rows from
    md5(key) over ``rel`` — THE register-row device, shared by
    agg_hll_distinct and the sliding-window twin
    (breadth9.window_hll_sliding_distinct) so the two oracles cannot
    drift (review catch: the chain was copy-pasted verbatim)."""
    e = f"{extra_col}, " if extra_col else ""
    return f"""
        SELECT {e}CAST(CAST('0x' || substr(hx, 1, 2) AS BIGINT) AS INT)
                   AS bucket,
               CASE WHEN bin(CAST('0x' || substr(hx, 3, 15) AS BIGINT)) = '0'
                    THEN 61
                    ELSE 61 - length(bin(CAST('0x' || substr(hx, 3, 15)
                                              AS BIGINT)))
               END AS rho
        FROM (SELECT {e}md5(CAST({key_sql} AS VARCHAR)) AS hx FROM {rel})
    """


def hll_estimate_cte_sql(regs_rel: str, grain: str = "") -> str:
    """CTE chain from a ``(grain?, bucket, m_j)`` register relation to
    ``est_ (grain?, v_empty, hll)``: integer/DECIMAL harmonic sum,
    one double division, linear-counting small-range branch — the
    estimator half of the shared device."""
    g = f"{grain}, " if grain else ""
    gb = f" GROUP BY {grain}" if grain else ""
    return f"""s_ AS (
        SELECT {g}CAST(count(*) AS BIGINT) AS n_regs,
               sum(CAST((1::BIGINT << (61 - m_j)) AS DECIMAL(38,0))) AS num
        FROM {regs_rel}{gb}
    ),
    e_ AS (
        SELECT {g}CAST({HLL_M} - n_regs AS BIGINT) AS v_empty,
               {_HLL_NUMER!r} / CAST(CAST(num AS HUGEINT)
                   + CAST({HLL_M} - n_regs AS HUGEINT)
                     * CAST({_POW2_61} AS HUGEINT) AS DOUBLE) AS e_raw
        FROM s_
    ),
    est_ AS (
        SELECT {g}v_empty,
               CASE WHEN e_raw <= 2.5 * {HLL_M} AND v_empty > 0
                    THEN {HLL_M} * ln({HLL_M} / CAST(nullif(v_empty, 0)
                                                     AS DOUBLE))
                    ELSE e_raw
               END AS hll
        FROM e_
    )"""


def hll_rho_frame(df: DataFrame, key_col: str, passthrough: tuple = ()) -> DataFrame:
    """([passthrough...,] bucket, rho) rows from md5 of ``key_col`` —
    the Spark half of the shared register-row device."""
    h = df.select(
        *passthrough, F.md5(F.col(key_col).cast("string")).alias("hx")
    )
    binstr = F.expr("conv(substring(hx, 3, 15), 16, 2)")
    return h.select(
        *passthrough,
        F.conv(F.substring("hx", 1, 2), 16, 10).cast("int").alias("bucket"),
        F.when(binstr == "0", F.lit(61))
        .otherwise(F.lit(61) - F.length(binstr))
        .alias("rho"),
    )


def hll_estimate_frame(regs: DataFrame, grain: tuple = ()) -> DataFrame:
    """From ``(grain..., bucket, m_j)`` registers to
    ``(grain..., v_empty, hll)`` — the Spark half of the shared
    estimator chain (same expressions as hll_estimate_cte_sql)."""
    s = regs.groupBy(*grain).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), 61 - m_j)"
                " AS DECIMAL(38,0))"
            )
        ).alias("num"),
    )
    e = s.select(
        *grain,
        (F.lit(HLL_M) - F.col("n_regs")).cast("long").alias("v_empty"),
        (
            F.lit(_HLL_NUMER)
            / (
                F.col("num")
                + (F.lit(HLL_M) - F.col("n_regs")).cast("decimal(38,0)")
                * F.lit(_POW2_61).cast("decimal(38,0)")
            ).cast("double")
        ).alias("e_raw"),
    )
    return e.select(
        *grain,
        "v_empty",
        F.when(
            (F.col("e_raw") <= 2.5 * HLL_M) & (F.col("v_empty") > 0),
            F.lit(HLL_M)
            * F.log(
                F.lit(HLL_M) / F.expr("CAST(nullif(v_empty, 0) AS DOUBLE)")
            ),
        )
        .otherwise(F.col("e_raw"))
        .alias("hll"),
    )


def _hll_oracle() -> str:
    return f"""
    WITH r AS ({hll_rho_cte_sql("l_orderkey", "lineitem")}),
    regs AS (SELECT bucket, max(rho) AS m_j FROM r GROUP BY 1),
    {hll_estimate_cte_sql("regs")}
    SELECT (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
            FROM lineitem) AS n_exact,
           CAST({HLL_M} AS INT) AS m_registers,
           v_empty,
           round(hll, 6) AS hll_estimate,
           round(hll / (SELECT count(DISTINCT l_orderkey) FROM lineitem)
                 - 1, 6) AS rel_error
    FROM est_
    """


@query("agg_hll_distinct", oracle=_hll_oracle())
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replayable HyperLogLog distinct-count of lineitem order keys
    (block comment above): register maxes, common-denominator harmonic
    sum, one double division; exact distinct alongside as verifier."""
    r = hll_rho_frame(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    )
    regs = r.groupBy("bucket").agg(F.max("rho").alias("m_j"))
    est = hll_estimate_frame(regs)
    exact = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.countDistinct("l_orderkey").cast("long").alias("n_exact"))
    )
    # one-row scalar broadcast (commented, BNLJ-bounded — the repo-wide
    # device for attaching a scalar to a one-row frame)
    return est.crossJoin(F.broadcast(exact)).select(
        "n_exact",
        F.lit(HLL_M).cast("int").alias("m_registers"),
        "v_empty",
        F.round(F.col("hll"), 6).alias("hll_estimate"),
        F.round(F.col("hll") / F.col("n_exact") - 1, 6).alias("rel_error"),
    )


# ------------------------- quantile regression (pinball-loss GD)
#
# The third member of the iterative-trainer family (logreg GD, ALS):
# linear regression of an UPPER QUANTILE — "what does the 75th-
# percentile price look like as a function of quantity and discount"
# — trained by full-batch subgradient descent on the pinball loss.
# Same engine discipline as ml_logreg_gradient_descent (stats.py):
# one map-side-combinable aggregate per iteration, gradient components
# summed in EXACT DECIMAL (order-independent), weights updated
# driver-side (3 doubles) and round(12)-ed, the oracle an unrolled CTE
# chain. One device FEWER than logreg: the pinball subgradient is a
# pure comparison — grad = (1-tau) if y <= yhat else -tau — so there
# is no exp()/round-9 step anywhere; every per-row quantity is either
# exact (+-tau with tau = 0.75 a dyadic rational) or the same IEEE
# double on both engines.

QREG_TAU = 0.75
QREG_ITERS = 8
QREG_LR = 1.0
_QREG_FEATS_SQL = """
    SELECT l_quantity / 10 AS x1, l_discount * 10 AS x2,
           l_extendedprice / 10000 AS y
    FROM lineitem
"""


def _qreg_grad_sql(w: str) -> str:
    yhat = f"({w}.a + {w}.b * x1 + {w}.c * x2)"
    return f"CASE WHEN y <= {yhat} THEN {1 - QREG_TAU} ELSE {-QREG_TAU} END"


def _qreg_oracle() -> str:
    dec = "DECIMAL(28,12)"
    ctes = [
        f"f AS ({_QREG_FEATS_SQL})",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)",
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b,"
        " CAST(0.0 AS DOUBLE) AS c)",
    ]
    for i in range(QREG_ITERS):
        g = _qreg_grad_sql("w")
        ctes.append(
            f"""g{i} AS (
                SELECT sum(CAST({g} AS {dec})) AS s0,
                       sum(CAST({g} * x1 AS {dec})) AS s1,
                       sum(CAST({g} * x2 AS {dec})) AS s2
                FROM f CROSS JOIN w{i} w)"""
        )
        ctes.append(
            f"""w{i + 1} AS (
                SELECT round(w.a - {QREG_LR} * CAST(g.s0 AS DOUBLE) / nn.n, 12) AS a,
                       round(w.b - {QREG_LR} * CAST(g.s1 AS DOUBLE) / nn.n, 12) AS b,
                       round(w.c - {QREG_LR} * CAST(g.s2 AS DOUBLE) / nn.n, 12) AS c
                FROM w{i} w CROSS JOIN g{i} g CROSS JOIN nn)"""
        )
    yhat = "(w.a + w.b * x1 + w.c * x2)"
    pin = (
        f"CASE WHEN y - {yhat} >= 0 THEN {QREG_TAU} * (y - {yhat}) "
        f"ELSE {QREG_TAU - 1} * (y - {yhat}) END"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT w.a AS w0, w.b AS w1, w.c AS w2, nn.n AS n,
           round(CAST(sum(CAST({pin} AS {dec})) AS DOUBLE) / nn.n, 6)
               AS pinball_loss,
           round(sum(CASE WHEN y <= {yhat} THEN 1 ELSE 0 END) * 1.0 / nn.n,
                 6) AS coverage
    FROM f CROSS JOIN w{QREG_ITERS} w CROSS JOIN nn
    GROUP BY w.a, w.b, w.c, nn.n
    """
    )


@query("ml_quantile_regression_gd", oracle=_qreg_oracle())
def ml_quantile_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{QREG_TAU}-quantile linear regression of lineitem price on
    quantity and discount via {QREG_ITERS} pinball-subgradient steps
    (block comment above); output = final weights + pinball loss +
    empirical coverage (fraction of y at or under the fitted
    quantile, which converges toward tau)."""
    feats = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") / 10).alias("x1"),
        (F.col("l_discount") * 10).alias("x2"),
        (F.col("l_extendedprice") / 10000).alias("y"),
    )
    n = feats.count()  # bounded driver scalar (the logreg discipline)
    dec = "decimal(28,12)"
    w = [0.0, 0.0, 0.0]
    for _ in range(QREG_ITERS):
        yhat = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        g = F.when(F.col("y") <= yhat, F.lit(1 - QREG_TAU)).otherwise(
            F.lit(-QREG_TAU)
        )
        row = feats.agg(
            F.sum(g.cast(dec)).alias("s0"),
            F.sum((g * F.col("x1")).cast(dec)).alias("s1"),
            F.sum((g * F.col("x2")).cast(dec)).alias("s2"),
        ).collect()[0]
        w = [
            round(w[j] - QREG_LR * float(row[j]) / n, 12)
            for j in range(3)
        ]
    yhat = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    e = F.col("y") - yhat
    pin = F.when(e >= 0, F.lit(QREG_TAU) * e).otherwise(F.lit(QREG_TAU - 1) * e)
    return feats.agg(
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        F.lit(n).cast("long").alias("n"),
        F.round(F.sum(pin.cast(dec)).cast("double") / n, 6).alias(
            "pinball_loss"
        ),
        F.round(
            F.sum(F.when(F.col("y") <= yhat, 1).otherwise(0)) * 1.0 / n, 6
        ).alias("coverage"),
    )


# ------------------- user-level DP sum with bounded contribution
#
# The sum twin of privacy_dp_count_laplace (breadth7d.py) carrying the
# concept counts don't need: CONTRIBUTION BOUNDING. A user-level-DP
# sum's sensitivity is one user's maximum effect, which is unbounded
# until clamped — so per-customer spend is capped at DP_SUM_CLAMP
# first, making the Laplace scale exactly CLAMP/epsilon, and the
# number of clamped customers is released alongside as the bias
# diagnostic (the standard clipping-bias/noise trade). Noise is the
# same seeded inverse-CDF Laplace device (md5 uniform -> quantile
# function), keyed on the release tag + nation, so both engines draw
# the identical "sample". All money flows in DECIMAL until the final
# rounds.
#
# Rounding headroom (the r8 red-row lesson, VERDICT r8 #1): noise and
# released_sum are magnitude ~1e6-1e7 because scale = CLAMP/eps =
# 4e6/eps. A last-ulp cross-libm difference in ln() (~1e-16 relative)
# becomes ~1e-9 ABSOLUTE after that multiplier, which sat within
# 0.5e-6 of a 6-dp rounding boundary on some row and flipped the
# driver hash while local parity (same libm both engines) passed.
# Both sides therefore round to 2 dp — cent precision, ~5e6x headroom
# over the ulp-scale perturbation, and semantically free since the
# noise scale itself is ~1e6. The count twin keeps 6 dp safely
# because its scale is 1/eps (magnitude ~1e0). Registry-wide audit of
# this trap: tools/round_headroom_audit.py.

DP_SUM_CLAMP = 4_000_000  # per-customer cap, in price units


def _dp_sum_oracle() -> str:
    from .breadth7d import _DP_DENOM, DP_EPSILON, DP_RELEASE

    scale = DP_SUM_CLAMP / DP_EPSILON
    return f"""
    WITH per_cust AS (
        SELECT cu.c_nationkey,
               least(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DECIMAL(18,2)),
                     CAST({DP_SUM_CLAMP} AS DECIMAL(18,2))) AS clamped,
               CASE WHEN sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         > {DP_SUM_CLAMP} THEN 1 ELSE 0 END AS hit
        FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
        GROUP BY o.o_custkey, cu.c_nationkey
    ),
    agg AS (
        SELECT n.n_name AS nation,
               sum(clamped) AS true_sum_dec,
               CAST(sum(hit) AS BIGINT) AS n_clamped
        FROM per_cust JOIN nation n ON per_cust.c_nationkey = n.n_nationkey
        GROUP BY 1
    ),
    u AS (
        SELECT nation, true_sum_dec, n_clamped,
               (CAST(('0x' || substr(md5('{DP_RELEASE}:sum:' || nation), 1, 15))
                     AS BIGINT) + 1) / {_DP_DENOM}.0 AS uu
        FROM agg
    )
    SELECT nation,
           round(CAST(true_sum_dec AS DOUBLE), 2) AS true_sum,
           n_clamped,
           round(-{scale!r}
                 * CASE WHEN uu - 0.5 > 0 THEN 1.0
                        WHEN uu - 0.5 < 0 THEN -1.0 ELSE 0.0 END
                 * ln(1.0 - 2.0 * abs(uu - 0.5)), 2) AS noise,
           round(CAST(true_sum_dec AS DOUBLE)
                 - {scale!r}
                 * CASE WHEN uu - 0.5 > 0 THEN 1.0
                        WHEN uu - 0.5 < 0 THEN -1.0 ELSE 0.0 END
                 * ln(1.0 - 2.0 * abs(uu - 0.5)), 2) AS released_sum
    FROM u ORDER BY nation
    """


@query("privacy_dp_sum_bounded", oracle=_dp_sum_oracle())
def privacy_dp_sum_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level DP per-nation revenue: clamp each customer's total
    to DP_SUM_CLAMP, sum per nation, add seeded Laplace noise at scale
    CLAMP/epsilon (block comment above)."""
    from .breadth7d import _DP_DENOM, DP_EPSILON, DP_RELEASE

    scale = DP_SUM_CLAMP / DP_EPSILON
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dec = "decimal(18,2)"
    per_cust = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast(dec)).cast(dec).alias("spend"))
        .select(
            "c_nationkey",
            F.least(F.col("spend"), F.lit(DP_SUM_CLAMP).cast(dec)).alias(
                "clamped"
            ),
            F.when(F.col("spend") > DP_SUM_CLAMP, 1).otherwise(0).alias("hit"),
        )
    )
    agg = (
        per_cust.join(
            F.broadcast(n), per_cust.c_nationkey == n.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("clamped").alias("true_sum_dec"),
            F.sum("hit").cast("long").alias("n_clamped"),
        )
    )
    uu = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{DP_RELEASE}:sum:"), F.col("nation"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / float(_DP_DENOM)
    centered = uu - 0.5
    sign = F.when(centered > 0, 1.0).when(centered < 0, -1.0).otherwise(0.0)
    noise = -scale * sign * F.log(1.0 - 2.0 * F.abs(centered))
    return agg.select(
        "nation",
        F.round(F.col("true_sum_dec").cast("double"), 2).alias("true_sum"),
        "n_clamped",
        F.round(noise, 2).alias("noise"),
        F.round(F.col("true_sum_dec").cast("double") + noise, 2).alias(
            "released_sum"
        ),
    ).orderBy("nation")


# ------------------------ revenue proration (interval -> calendar)
#
# The finance allocation shape none of the existing interval ops
# cover: spread each line's revenue across the calendar MONTHS its
# service interval overlaps, proportional to overlap days — revenue
# recognition, subscription proration, capacity amortization are all
# this query. Engine shape: a SPAN-BOUNDED month explode per row
# (sequence/generate_series between the interval's month ends — never
# a calendar cross join), overlap arithmetic in exact day integers,
# and the prorated amount as cents * overlap / total computed once in
# double (identical IEEE ops both engines; cents * days < 2^53 so the
# numerator is exact) then summed in DECIMAL. The service interval is
# [least(orderdate, shipdate), greatest(...)] — the synthetic fixture
# contains inverted spans, and the normalization is the documented
# dirty-data posture rather than a silent drop.

def _proration_oracle() -> str:
    return """
    WITH li AS (
        SELECT least(o.o_orderdate, l.l_shipdate) AS d0,
               greatest(o.o_orderdate, l.l_shipdate) AS d1,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    m AS (
        SELECT d0, d1, cents,
               CAST(datediff('day', d0, d1) + 1 AS BIGINT) AS total_days,
               CAST(unnest(generate_series(date_trunc('month', d0),
                                           date_trunc('month', d1),
                                           INTERVAL 1 MONTH)) AS DATE)
                   AS month_start
        FROM li
    ),
    o AS (
        SELECT strftime(month_start, '%Y-%m') AS month,
               CAST(datediff('day',
                             greatest(month_start, d0),
                             least(last_day(month_start), d1))
                    + 1 AS BIGINT) AS overlap_days,
               total_days, cents
        FROM m
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_line_months,
           round(CAST(sum(CAST(cents * overlap_days * 1.0 / total_days
                               AS DECIMAL(28,12))) AS DOUBLE) / 100.0,
                 2) AS prorated_revenue
    FROM o
    GROUP BY 1
    """


@query("analytics_revenue_proration", oracle=_proration_oracle())
def analytics_revenue_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month revenue with each line prorated across its
    order-to-ship interval by overlap days (block comment above)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.least("o_orderdate", "l_shipdate").alias("d0"),
        F.greatest("o_orderdate", "l_shipdate").alias("d1"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    m = base.select(
        "d0",
        "d1",
        "cents",
        (F.datediff("d1", "d0") + 1).cast("long").alias("total_days"),
        F.explode(
            F.sequence(
                F.trunc("d0", "month"),
                F.trunc("d1", "month"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start"),
    )
    ov = m.select(
        F.date_format("month_start", "yyyy-MM").alias("month"),
        (
            F.datediff(
                F.least(F.last_day("month_start"), F.col("d1")),
                F.greatest(F.col("month_start"), F.col("d0")),
            )
            + 1
        )
        .cast("long")
        .alias("overlap_days"),
        "total_days",
        "cents",
    )
    return ov.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_line_months"),
        F.round(
            F.sum(
                (
                    F.col("cents") * F.col("overlap_days") * 1.0
                    / F.col("total_days")
                ).cast("decimal(28,12)")
            ).cast("double")
            / 100.0,
            2,
        ).alias("prorated_revenue"),
    )


# ----------------- reflected running balance (floor-at-zero fold)
#
# Inventory/wallet semantics: balance_t = max(0, balance_{t-1} + d_t)
# is a FOLD, not a cumulative sum — naively it needs per-key
# sequential state. The Skorokhod single-barrier reflection gives the
# closed form  b_t = S_t - min(0, min_{j<=t} S_j)  (S = prefix sum),
# which IS windowable: two running aggregates over the same ordered
# frame, no recursion, no UDF, engine-parallel per key. Credits are
# engagement events, debits purchases/errors; the fixture's roughly
# balanced mix guarantees both the clamp and the free region exercise.
# Determinism: both engines evaluate running frames sequentially in
# the same (ts, event_id) total order, so the double prefix sums are
# IEEE-identical; round(4) on output only.


@query(
    "window_reflected_balance",
    oracle="""
    WITH d AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type IN ('purchase', 'error')
                    THEN -value ELSE value END AS delta
        FROM events
    ),
    s AS (
        SELECT user_id, event_id, ts, delta,
               sum(delta) OVER w AS run_sum
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    r AS (
        SELECT user_id, event_id, delta, run_sum,
               min(run_sum) OVER w AS run_min
        FROM s
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round(delta, 4) AS delta,
           round(run_sum - least(run_min, 0), 4) AS balance
    FROM r
    """,
)
def window_reflected_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user floor-at-zero running balance via the reflection
    closed form (block comment above)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type").isin("purchase", "error"), -F.col("value")
        )
        .otherwise(F.col("value"))
        .alias("delta"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        "delta",
        F.sum("delta").over(w).alias("run_sum"),
    ).withColumn("run_min", F.min("run_sum").over(w))
    return s.select(
        "user_id",
        "event_id",
        F.round("delta", 4).alias("delta"),
        F.round(
            F.col("run_sum") - F.least(F.col("run_min"), F.lit(0.0)), 4
        ).alias("balance"),
    )


# ------------------------------ phrase search (position postings)
#
# BM25 (text.py) answers TERM queries; a PHRASE needs adjacency, and
# the scan-side answer (LIKE '%hash join%') reads every byte of every
# document. The inverted-index way: token postings WITH POSITIONS,
# one equi-join per phrase gap on (doc_id, pos + k) — each join
# touches only the postings of one term (the rarest-first ordering at
# production scale), never the corpus text. The postings frame is the
# same explode the BM25/TF-IDF family checkpoints, so in a composed
# pipeline this reuses that build. Counts and positions are exact
# integers end-to-end.

PHRASE = ("hash", "join")  # 25/28/289 hits at sf0.001/0.01/0.1


def _phrase_oracle() -> str:
    terms = sql_in(PHRASE)
    joins = "\n        ".join(
        f"JOIN p t{k} ON t{k}.doc_id = t0.doc_id"
        f" AND t{k}.pos = t0.pos + {k} AND t{k}.w = '{PHRASE[k]}'"
        for k in range(1, len(PHRASE))
    )
    return f"""
    WITH p AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS w,
               CAST(generate_subscripts(string_split(lower(text), ' '), 1)
                    AS INT) AS pos
        FROM documents
    ),
    hits AS (
        SELECT t0.doc_id, t0.pos
        FROM (SELECT * FROM p WHERE w = '{PHRASE[0]}') t0
        {joins}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(pos) AS INT) AS first_pos
    FROM hits
    GROUP BY 1
    """


@query("text_phrase_search", oracle=_phrase_oracle())
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find documents containing the exact phrase {PHRASE} via
    position-postings adjacency joins (block comment above); output
    per-doc hit count and first position (1-based, matching the
    oracle's generate_subscripts)."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "w")
    hits = p.filter(F.col("w") == PHRASE[0]).select("doc_id", "pos")
    for k in range(1, len(PHRASE)):
        tk = p.filter(F.col("w") == PHRASE[k]).select(
            F.col("doc_id").alias("dk"), F.col("pos").alias("pk")
        )
        hits = hits.join(
            tk,
            (F.col("doc_id") == F.col("dk"))
            & (F.col("pk") == F.col("pos") + k),
        ).select("doc_id", "pos")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("pos").cast("int").alias("first_pos"),
    )


# --------------------- capped sessionization (idle gap + hard max)
#
# The production session rule most analytics stacks actually run:
# "a session ends after CAP_GAP idle OR at CAP_MAX total duration,
# whichever first" — the hard cap bounds state for always-on devices
# and bots that never go idle. The idle half is the classic
# flag+cumsum (sessionize_events); the cap half is a SECOND grain:
# within each gap-session, events split at fixed CAP_MAX offsets from
# the session START (floor((ts - session_start)/CAP_MAX)), so the
# composite id is (user, gap-ordinal, cap-slice). Three windows, all
# on the same (user) partition — one shuffle. Gap is 4h and cap 6h
# here so BOTH rules fire in the fixture (17/168/1515 capped sessions
# at the three SFs); microsecond-exact arithmetic as the idle
# sessionizer (unix_micros vs epoch() whole-second truncation).

CAP_GAP_S = 14_400  # 4h idle ends a session
CAP_MAX_S = 21_600  # 6h hard cap splits one regardless


@query(
    "sessionize_capped",
    oracle=f"""
    WITH flagged AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > {CAP_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT event_id, user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ord
        FROM flagged
    ),
    g AS (
        SELECT event_id, user_id, ts, ord,
               min(ts) OVER (PARTITION BY user_id, ord) AS sess_start
        FROM s
    )
    SELECT event_id, user_id, ts,
           user_id || '-' || CAST(ord AS VARCHAR) || '-' ||
           CAST(CAST(floor((epoch_us(ts) - epoch_us(sess_start))
                           / ({CAP_MAX_S} * 1000000.0)) AS BIGINT)
                AS VARCHAR) AS session_id
    FROM g
    """,
)
def sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-gap + hard-cap session ids per event (block comment
    above): composite id user-ordinal-slice."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = events.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > CAP_GAP_S * 1_000_000), 1).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = flagged.withColumn("ord", F.sum("new_sess").over(run))
    g = s.withColumn(
        "sess_start", F.min("ts").over(Window.partitionBy("user_id", "ord"))
    )
    slice_ = F.floor(
        (F.unix_micros("ts") - F.unix_micros("sess_start"))
        / (CAP_MAX_S * 1_000_000.0)
    ).cast("long")
    return g.select(
        "event_id",
        "user_id",
        "ts",
        F.concat_ws("-", F.col("user_id"), F.col("ord"), slice_).alias(
            "session_id"
        ),
    )


# ---------------- k-fold cross-validation (leakage-safe, one plan)
#
# The evaluation discipline the single-stump query lacks: train on
# k-1 folds, score on the held-out fold, repeat for every fold — with
# NO per-fold re-scan. The trick is grain algebra: one aggregate
# produces the (fold, cut) cell counts; the TRAIN counts for held-out
# fold f are then total(cut) - cell(f, cut) (plain arithmetic on the
# tiny cell frame), and the same cell rows ARE the held-out
# evaluation counts. Fold assignment is the deterministic md5 bucket
# (leakage-safe: a row's fold never depends on other rows); the
# candidate-cut grid is full-data deciles — a hyperparameter grid,
# standard practice — while split SELECTION and leaf labels are
# train-only. Scale: one fact scan + one (folds x cuts)-grain
# aggregate; everything after is on <= 27 rows.

CV_FOLDS = 3


def _cv_stump_oracle() -> str:
    fold = oracle_hash_bucket("'fold:' || CAST(o_orderkey AS VARCHAR)", CV_FOLDS)
    cut_list = ", ".join(
        f"round(quantile_cont(v, {k / 10.0}), 6)" for k in range(1, STUMP_CUTS + 1)
    )
    k_list = ", ".join(str(k) for k in range(1, STUMP_CUTS + 1))
    return f"""
    WITH base AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y,
               {fold} AS fold
        FROM orders
    ),
    cuts AS (
        SELECT unnest([{k_list}]) AS k, unnest([{cut_list}]) AS cut
        FROM base
    ),
    cell AS (
        SELECT fold, c.k, c.cut,
               CAST(sum(CASE WHEN v <= cut THEN y ELSE 0 END) AS BIGINT) AS lp,
               CAST(sum(CASE WHEN v <= cut THEN 1 - y ELSE 0 END) AS BIGINT) AS ln,
               CAST(sum(CASE WHEN v > cut THEN y ELSE 0 END) AS BIGINT) AS rp,
               CAST(sum(CASE WHEN v > cut THEN 1 - y ELSE 0 END) AS BIGINT) AS rn
        FROM base CROSS JOIN cuts c
        GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT k, sum(lp) AS tlp, sum(ln) AS tln,
               sum(rp) AS trp, sum(rn) AS trn
        FROM cell GROUP BY 1
    ),
    train AS (
        SELECT c.fold, c.k, c.cut,
               t.tlp - c.lp AS lp, t.tln - c.ln AS ln,
               t.trp - c.rp AS rp, t.trn - c.rn AS rn
        FROM cell c JOIN tot t USING (k)
    ),
    scored AS (
        SELECT fold, k, cut, lp, ln, rp, rn,
               {SPLIT_GINI_SQL},
               CASE WHEN lp >= ln THEN 1 ELSE 0 END AS left_label,
               CASE WHEN rp >= rn THEN 1 ELSE 0 END AS right_label
        FROM train
    ),
    chosen AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY fold ORDER BY gini, k) AS rnk
            FROM scored
        ) WHERE rnk = 1
    )
    SELECT ch.fold,
           CAST(ch.k AS INT) AS cut_idx,
           ch.cut AS cut_value,
           ch.gini AS train_gini,
           CAST(ch.left_label AS INT) AS left_label,
           CAST(ch.right_label AS INT) AS right_label,
           CAST(ce.lp + ce.ln + ce.rp + ce.rn AS BIGINT) AS n_holdout,
           round((CASE WHEN ch.left_label = 1 THEN ce.lp ELSE ce.ln END
                + CASE WHEN ch.right_label = 1 THEN ce.rp ELSE ce.rn END)
                 * 1.0 / (ce.lp + ce.ln + ce.rp + ce.rn), 6)
               AS holdout_accuracy
    FROM chosen ch
    JOIN cell ce ON ce.fold = ch.fold AND ce.k = ch.k
    """


@query("ml_cross_validation_stump", oracle=_cv_stump_oracle())
def ml_cross_validation_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{CV_FOLDS}-fold cross-validated decision stump (block comment
    above): per fold, the train-chosen split + leaf labels and the
    held-out accuracy."""
    from pyspark.sql import Window

    fold = hash_bucket(
        F.concat(F.lit("fold:"), F.col("o_orderkey").cast("string")), CV_FOLDS
    )
    base = urgent_value_rows(spark, sf_dir, fold.alias("fold")).localCheckpoint(
        eager=False
    )
    # tiny; feeds tot + train + eval
    cell = split_counts(base, "fold").localCheckpoint(eager=False)
    tot = cell.groupBy("k").agg(
        F.sum("lp").alias("tlp"),
        F.sum("ln").alias("tln"),
        F.sum("rp").alias("trp"),
        F.sum("rn").alias("trn"),
    )
    train = cell.join(F.broadcast(tot), "k").select(
        "fold",
        "k",
        "cut",
        (F.col("tlp") - F.col("lp")).alias("lp"),
        (F.col("tln") - F.col("ln")).alias("ln"),
        (F.col("trp") - F.col("rp")).alias("rp"),
        (F.col("trn") - F.col("rn")).alias("rn"),
    )
    scored = train.select(
        "fold",
        "k",
        "cut",
        split_gini().alias("gini"),
        F.when(F.col("lp") >= F.col("ln"), 1).otherwise(0).alias("left_label"),
        F.when(F.col("rp") >= F.col("rn"), 1)
        .otherwise(0)
        .alias("right_label"),
    )
    w = Window.partitionBy("fold").orderBy("gini", "k")
    chosen = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    ev = cell.select(
        F.col("fold").alias("ef"),
        F.col("k").alias("ek"),
        "lp",
        "ln",
        "rp",
        "rn",
    )
    joined = chosen.join(
        ev, (F.col("fold") == F.col("ef")) & (F.col("k") == F.col("ek"))
    )
    n_hold = (
        F.col("lp") + F.col("ln") + F.col("rp") + F.col("rn")
    ).cast("long")
    correct = F.when(F.col("left_label") == 1, F.col("lp")).otherwise(
        F.col("ln")
    ) + F.when(F.col("right_label") == 1, F.col("rp")).otherwise(F.col("rn"))
    return joined.select(
        "fold",
        F.col("k").cast("int").alias("cut_idx"),
        F.col("cut").alias("cut_value"),
        F.col("gini").alias("train_gini"),
        F.col("left_label").cast("int").alias("left_label"),
        F.col("right_label").cast("int").alias("right_label"),
        n_hold.alias("n_holdout"),
        F.round(correct * 1.0 / n_hold, 6).alias("holdout_accuracy"),
    )


# ----------------------------- grid DBSCAN (density clustering)
#
# The spatial family's clustering member: the standard distributed
# DBSCAN approximation — bucket points to grid cells, call a cell
# dense when it holds >= MINPTS points, connect dense cells through
# their 8-neighborhood, label points by their cell's component, and
# everything in a sparse cell is noise. No pairwise distances at all:
# the pair space is the DENSE-CELL adjacency graph, which is bounded
# by geometry (<= 8 edges per cell), so the expensive half of DBSCAN
# (region queries) becomes one groupBy and one tiny self-join.
#
# Coordinates: the grid-join family derives uniform pseudo-coords,
# which have NO density contrast (measured: zero cells at 2x the mean
# at any sf) — a density clusterer over them would be vacuous. This
# query instead derives a deterministic MIXTURE from the order key,
# as documented query semantics: 11 blob centers >= 6 degrees apart
# (key % 12 picks the component), +-1.5-degree in-blob offsets, and
# component 11 scattered over the full range as real noise. MINPTS =
# greatest(5, N/1000) keeps the same semantics at every sf: blob
# cells are two orders denser than noise cells everywhere.
#
# The component step is min-label propagation on the dense-cell frame
# (a few hundred rows): driver loop, localCheckpoint per round,
# RAISES past the round cap instead of silently truncating (the
# dedup_cluster_components discipline); the oracle computes true components with
# a recursive-CTE reachability closure.

DBSCAN_CELL = 1.0  # degrees
DBSCAN_MAX_ROUNDS = 20

_DB_LAT = (
    "CASE WHEN {k} % 12 = 11"
    " THEN -45.0 + ({k} * 7919 % 9000) / 100.0"
    " ELSE (-40.0 + ({k} % 12) * 37 % 80)"
    "      + ({k} * 7919 % 300) / 100.0 - 1.5 END"
)
_DB_LON = (
    "CASE WHEN {k} % 12 = 11"
    " THEN -20.0 + ({k} * 104729 % 4000) / 100.0"
    " ELSE (-18.0 + ({k} % 12) * 23 % 36)"
    "      + ({k} * 104729 % 300) / 100.0 - 1.5 END"
)


def _dbscan_oracle() -> str:
    lat = _DB_LAT.format(k="o_orderkey")
    lon = _DB_LON.format(k="o_orderkey")
    return f"""
    WITH pts AS (
        SELECT CAST(floor(({lat}) / {DBSCAN_CELL}) AS BIGINT) AS cx,
               CAST(floor(({lon}) / {DBSCAN_CELL}) AS BIGINT) AS cy
        FROM orders
    ),
    cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
    minpts AS (
        SELECT greatest(5, CAST(floor(sum(n) / 1000.0) AS BIGINT)) AS mp
        FROM cells
    ),
    dense AS (
        SELECT cx, cy, n, (cx + 500) * 1000000 + (cy + 500) AS cell_id
        FROM cells CROSS JOIN minpts WHERE n >= mp
    ),
    edges AS (
        SELECT a.cell_id AS src, b.cell_id AS dst
        FROM dense a JOIN dense b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    ),
    reach AS (
        WITH RECURSIVE r(cell, root) AS (
            SELECT cell_id, cell_id FROM dense
            UNION
            SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.cell
        ) SELECT cell, min(root) AS cluster_id FROM r GROUP BY 1
    ),
    labeled AS (
        SELECT d.cx, d.cy, d.n, r.cluster_id
        FROM dense d JOIN reach r ON r.cell = d.cell_id
    ),
    clusters AS (
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(n) AS BIGINT) AS n_points,
               CAST(min(cx) AS BIGINT) AS min_cx,
               CAST(max(cx) AS BIGINT) AS max_cx,
               CAST(min(cy) AS BIGINT) AS min_cy,
               CAST(max(cy) AS BIGINT) AS max_cy
        FROM labeled GROUP BY 1
    ),
    noise AS (
        SELECT CAST(-1 AS BIGINT) AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n_points,
               CAST(0 AS BIGINT) AS min_cx, CAST(0 AS BIGINT) AS max_cx,
               CAST(0 AS BIGINT) AS min_cy, CAST(0 AS BIGINT) AS max_cy
        FROM cells CROSS JOIN minpts WHERE n < mp
    )
    SELECT * FROM clusters UNION ALL SELECT * FROM noise
    """


@query("geo_dbscan_grid", oracle=_dbscan_oracle())
def geo_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over the deterministic order-key mixture (block
    comment above): per-cluster cell/point counts and cell bounding
    box, plus one cluster_id=-1 noise row."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    lat = F.expr(_DB_LAT.format(k="o_orderkey"))
    lon = F.expr(_DB_LON.format(k="o_orderkey"))
    pts = o.select(
        F.floor(lat / DBSCAN_CELL).cast("long").alias("cx"),
        F.floor(lon / DBSCAN_CELL).cast("long").alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)  # tiny; feeds minpts + dense + noise
    mp = max(5, int(cells.agg(F.sum("n")).collect()[0][0] // 1000))
    # +500 shift keeps cell ids strictly positive (cells are bounded
    # by |lat|,|lon| <= 180/CELL), so the -1 noise sentinel can never
    # collide with a real component id
    dense = cells.filter(F.col("n") >= mp).withColumn(
        "cell_id", (F.col("cx") + 500) * 1_000_000 + (F.col("cy") + 500)
    )
    dense = dense.localCheckpoint(eager=True)
    # min-label propagation over the 8-neighborhood until fixpoint.
    # Neighbor candidates come from a 9-offset EXPLODE + equi-join on
    # the shifted cell key (the grid-join family device) — never a
    # |dense|^2 non-equi self-join, so the round stays an equi-join
    # even at planetary cell counts.
    offsets = F.expr(
        "array(" + ", ".join(
            f"struct({dx}L AS dx, {dy}L AS dy)"
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ) + ")"
    )
    lab = dense.select("cx", "cy", "cell_id", F.col("cell_id").alias("lbl"))
    for _ in range(DBSCAN_MAX_ROUNDS):
        nb = (
            lab.select("cx", "cy", F.col("lbl").alias("nlbl"))
            .withColumn("o", F.explode(offsets))
            .select(
                (F.col("cx") + F.col("o.dx")).alias("nx"),
                (F.col("cy") + F.col("o.dy")).alias("ny"),
                "nlbl",
            )
        )
        prop = (
            lab.join(
                nb,
                (F.col("cx") == F.col("nx")) & (F.col("cy") == F.col("ny")),
            )
            .groupBy("cx", "cy", "cell_id", "lbl")
            .agg(F.min("nlbl").alias("new_lbl"))
        )
        changed = prop.filter(F.col("new_lbl") != F.col("lbl")).count()
        lab = prop.select(
            "cx", "cy", "cell_id", F.col("new_lbl").alias("lbl")
        ).localCheckpoint(eager=True)
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"grid DBSCAN did not converge in {DBSCAN_MAX_ROUNDS} rounds"
        )
    labeled = dense.select("cx", "cy", "n", "cell_id").join(
        lab.select("cell_id", F.col("lbl").alias("cluster_id")), "cell_id"
    )
    clusters = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_points"),
        F.min("cx").cast("long").alias("min_cx"),
        F.max("cx").cast("long").alias("max_cx"),
        F.min("cy").cast("long").alias("min_cy"),
        F.max("cy").cast("long").alias("max_cy"),
    )
    noise = cells.filter(F.col("n") < mp).agg(
        F.lit(-1).cast("long").alias("cluster_id"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_points"),
        F.lit(0).cast("long").alias("min_cx"),
        F.lit(0).cast("long").alias("max_cx"),
        F.lit(0).cast("long").alias("min_cy"),
        F.lit(0).cast("long").alias("max_cy"),
    )
    return clusters.unionByName(noise)


# ----------------------- HLL mergeability (union / intersection)
#
# The property that makes HLL a WAREHOUSE primitive rather than a
# one-shot trick: two sketches union by REGISTER-WISE MAX — no
# re-scan of either input — and intersection estimates follow from
# inclusion-exclusion. This query materializes register tables for
# two overlapping order-key sets (lines shipped before 1998 / since
# 1997), merges them by max, and reports sketch-vs-exact for A, B,
# A∪B, and A∩B. The register rows are agg_hll_distinct's
# (hll_rho_frame: same register index, same rho) and so is the integer
# harmonic sum, but the estimate is the raw one: no linear-counting
# small-range branch, on either engine. The union is ONE tiny
# full-outer max over <= 2m register rows. The intersection's
# inclusion-exclusion error (it can even go negative on small
# overlaps) is the documented caveat the exact columns let you see.

HLL_A_BEFORE = "1998-01-01"
HLL_B_SINCE = "1997-01-01"


def _hll_regs_sql(pred: str) -> str:
    """Register CTE body over lineitem order keys filtered by pred."""
    return f"""
        SELECT CAST(CAST('0x' || substr(hx, 1, 2) AS BIGINT) AS INT) AS bucket,
               max(CASE WHEN bin(CAST('0x' || substr(hx, 3, 15) AS BIGINT)) = '0'
                        THEN 61
                        ELSE 61 - length(bin(CAST('0x' || substr(hx, 3, 15)
                                                  AS BIGINT)))
                   END) AS m_j
        FROM (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS hx
              FROM lineitem WHERE {pred})
        GROUP BY 1"""


def _hll_est_from_regs(name: str) -> str:
    """Estimate expression chain over a (bucket, m_j) relation."""
    return f"""(
        SELECT {_HLL_NUMER!r} / CAST(
            CAST((SELECT coalesce(sum(CAST((1::BIGINT << (61 - m_j))
                                           AS DECIMAL(38,0))), 0)
                  FROM {name}) AS HUGEINT)
            + CAST({HLL_M} - (SELECT count(*) FROM {name}) AS HUGEINT)
              * CAST({_POW2_61} AS HUGEINT) AS DOUBLE)
    )"""


def _hll_setops_oracle() -> str:
    pa = f"l_shipdate < DATE '{HLL_A_BEFORE}'"
    pb = f"l_shipdate >= DATE '{HLL_B_SINCE}'"
    return f"""
    WITH ra AS ({_hll_regs_sql(pa)}),
    rb AS ({_hll_regs_sql(pb)}),
    ru AS (
        SELECT coalesce(a.bucket, b.bucket) AS bucket,
               greatest(coalesce(a.m_j, 0), coalesce(b.m_j, 0)) AS m_j
        FROM ra a FULL OUTER JOIN rb b ON a.bucket = b.bucket
    ),
    exact AS (
        SELECT CAST(count(DISTINCT CASE WHEN {pa} THEN l_orderkey END)
                    AS BIGINT) AS na,
               CAST(count(DISTINCT CASE WHEN {pb} THEN l_orderkey END)
                    AS BIGINT) AS nb,
               CAST(count(DISTINCT CASE WHEN ({pa}) AND ({pb})
                          THEN l_orderkey END) AS BIGINT) AS ni,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nu
        FROM lineitem
    )
    SELECT na AS exact_a, nb AS exact_b, nu AS exact_union,
           ni AS exact_intersect,
           round({_hll_est_from_regs("ra")}, 6) AS hll_a,
           round({_hll_est_from_regs("rb")}, 6) AS hll_b,
           round({_hll_est_from_regs("ru")}, 6) AS hll_union,
           round({_hll_est_from_regs("ra")} + {_hll_est_from_regs("rb")}
                 - {_hll_est_from_regs("ru")}, 6) AS hll_intersect
    FROM exact
    """


@query("agg_hll_set_operations", oracle=_hll_setops_oracle())
def agg_hll_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact distinct counts for two overlapping shipping
    eras and their union/intersection, with the union computed by
    register-wise max — never re-scanning either input (block comment
    above)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    pa = F.col("l_shipdate") < HLL_A_BEFORE
    pb = F.col("l_shipdate") >= HLL_B_SINCE
    ra, rb = (
        hll_rho_frame(li.filter(p), "l_orderkey")
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
        .localCheckpoint(eager=True)
        for p in (pa, pb)
    )
    ru = (
        ra.select(F.col("bucket").alias("ba"), F.col("m_j").alias("ma"))
        .join(
            rb.select(F.col("bucket").alias("bb"), F.col("m_j").alias("mb")),
            F.col("ba") == F.col("bb"),
            "full_outer",
        )
        .select(
            F.coalesce("ba", "bb").alias("bucket"),
            F.greatest(
                F.coalesce(F.col("ma"), F.lit(0)),
                F.coalesce(F.col("mb"), F.lit(0)),
            ).alias("m_j"),
        )
    )
    # ONE conditional aggregation over the tagged union produces all
    # three estimates in a single one-row frame — keeps the plan at a
    # single scalar crossJoin instead of three (plan-lint bounds BNLJ
    # nodes at 2 per plan)
    tagged = (
        ra.withColumn("tag", F.lit("a"))
        .unionByName(rb.withColumn("tag", F.lit("b")))
        .unionByName(ru.withColumn("tag", F.lit("u")))
    )
    term = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), 61 - m_j) AS DECIMAL(38,0))"
    )

    def _est(tag: str) -> F.Column:
        num = F.coalesce(
            F.sum(F.when(F.col("tag") == tag, term)),
            F.lit(0).cast("decimal(38,0)"),
        )
        n_regs = F.count(F.when(F.col("tag") == tag, F.lit(1)))
        return F.lit(_HLL_NUMER) / (
            num
            + (F.lit(HLL_M) - n_regs).cast("decimal(38,0)")
            * F.lit(_POW2_61).cast("decimal(38,0)")
        ).cast("double")

    ests = tagged.agg(
        _est("a").alias("ea"), _est("b").alias("eb"), _est("u").alias("eu")
    )
    exact = li.agg(
        F.countDistinct(F.when(pa, F.col("l_orderkey")))
        .cast("long")
        .alias("exact_a"),
        F.countDistinct(F.when(pb, F.col("l_orderkey")))
        .cast("long")
        .alias("exact_b"),
        F.countDistinct(F.when(pa & pb, F.col("l_orderkey")))
        .cast("long")
        .alias("exact_intersect"),
        F.countDistinct("l_orderkey").cast("long").alias("exact_union"),
    )
    # one-row scalar broadcast (commented, BNLJ-bounded)
    out = exact.crossJoin(F.broadcast(ests))
    return out.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersect",
        F.round(F.col("ea"), 6).alias("hll_a"),
        F.round(F.col("eb"), 6).alias("hll_b"),
        F.round(F.col("eu"), 6).alias("hll_union"),
        F.round(F.col("ea") + F.col("eb") - F.col("eu"), 6).alias(
            "hll_intersect"
        ),
    )


# ------------------------ Holt linear-trend smoothing (ts family)
#
# The two-state sibling of ts_exp_smoothing: level AND trend
# recurrences (Holt 1957), so the one-step forecast follows drifting
# series instead of lagging them. Same engine devices as the
# single-state fold: day-grain series (bounded), one aggregate() fold
# whose accumulator is the array of (level, trend) states so far —
# both engines execute the identical IEEE op chain — and a recursive
# CTE oracle. trend_1 = 0 initialization (documented; the v2-v1 init
# needs lookahead the fold doesn't have). The emitted one-step
# forecast for day t is level_{t-1} + trend_{t-1} — the in-sample
# prediction, so forecast error is measurable per day downstream.

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


@query(
    "ts_holt_linear_trend",
    oracle=f"""{DAILY_SERIES_ORACLE_CTES}    rec AS (
        SELECT i, dy, v, v AS l, CAST(0.0 AS DOUBLE) AS t,
               CAST(NULL AS DOUBLE) AS fc
        FROM idx WHERE i = 1
        UNION ALL
        SELECT idx.i, idx.dy, idx.v,
               {HOLT_ALPHA} * idx.v
                   + (1 - {HOLT_ALPHA}) * (rec.l + rec.t),
               {HOLT_BETA} * (({HOLT_ALPHA} * idx.v
                   + (1 - {HOLT_ALPHA}) * (rec.l + rec.t)) - rec.l)
                   + (1 - {HOLT_BETA}) * rec.t,
               rec.l + rec.t
        FROM idx JOIN rec ON idx.i = rec.i + 1
    )
    SELECT strftime(dy, '%Y-%m-%d') AS day,
           round(v, 6) AS daily_value,
           round(l, 6) AS holt_level,
           round(t, 6) AS holt_trend,
           round(fc, 6) AS one_step_forecast
    FROM rec
    ORDER BY day
    """,
)
def ts_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of the daily mean event value
    (block comment above): per-day level, trend, and the one-step
    forecast the model made for that day."""
    series = daily_value_series(spark, sf_dir)
    a, b = HOLT_ALPHA, HOLT_BETA
    folded = series.select(
        "s",
        F.expr(
            f"""aggregate(
                s,
                CAST(array() AS ARRAY<STRUCT<l: DOUBLE, t: DOUBLE>>),
                (acc, x) -> CASE WHEN size(acc) = 0
                    THEN array(named_struct('l', x.v, 't', 0.0D))
                    ELSE array_append(
                        acc,
                        named_struct(
                            'l', {a}D * x.v + (1.0D - {a}D)
                                 * (element_at(acc, -1).l
                                    + element_at(acc, -1).t),
                            't', {b}D * (({a}D * x.v + (1.0D - {a}D)
                                          * (element_at(acc, -1).l
                                             + element_at(acc, -1).t))
                                         - element_at(acc, -1).l)
                                 + (1.0D - {b}D) * element_at(acc, -1).t))
                END
            )"""
        ).alias("states"),
    )
    ex = folded.select(
        F.posexplode(
            F.expr("zip_with(s, states, (x, st) -> struct(x.dy AS dy, x.v AS v, st.l AS l, st.t AS t))")
        ).alias("pos", "r")
    )
    # the forecast for position p (>0) is the previous state's l + t:
    # rebuild it windowlessly by joining the exploded frame to itself
    # on pos-1 (tiny day-grain frame)
    from pyspark.sql import Window

    w = Window.orderBy("pos")
    return ex.select(
        "pos",
        F.date_format("r.dy", "yyyy-MM-dd").alias("day"),
        F.round("r.v", 6).alias("daily_value"),
        F.round("r.l", 6).alias("holt_level"),
        F.round("r.t", 6).alias("holt_trend"),
        F.round(
            F.lag(F.col("r.l") + F.col("r.t")).over(w), 6
        ).alias("one_step_forecast"),
    ).drop("pos")
