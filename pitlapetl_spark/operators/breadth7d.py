"""Round-7 session-4 breadth, part 2: Nelson-Aalen cumulative hazard
(Kaplan-Meier's hazard-scale twin), a seeded permutation test (the
Poisson-bootstrap device pointed at hypothesis testing), a
differential-privacy Laplace count release (seeded, reproducible),
and two-proportion power analysis — the survival / experimentation /
privacy siblings the existing families imply.

Shared devices, same citations as their parents: the md5 A-Res
uniform (stats.py stats_bootstrap_ci) for seeded randomness both
engines replay bit-equal; the round-then-DECIMAL log/ratio cumsum
(analytics.py survival_kaplan_meier) for order-independent
accumulation of irrational terms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .analytics import LIFE_TABLE_ORACLE_CTES, life_table


# -------------------------------------- Nelson-Aalen cumulative hazard
# The hazard-scale twin of survival_kaplan_meier: H(t) = sum over
# event times <= t of d_i / n_i (Nelson 1972, Aalen 1978). Where KM
# multiplies survival factors, NA adds hazard increments — its
# variance behaves better at small risk sets and exp(-H) is the
# Fleming-Harrington survival estimate, carried alongside so the two
# estimators can be compared row by row. The life table is KM's own
# (analytics.life_table and LIFE_TABLE_ORACLE_CTES); the cumulative
# sum uses the same round-to-12-then-DECIMAL device so accumulation
# order cannot move a double.


@query(
    "survival_nelson_aalen",
    oracle=f"""{LIFE_TABLE_ORACLE_CTES}    na AS (
        SELECT t, d, n_risk,
               sum(CAST(round(d * 1.0 / n_risk, 12) AS DECIMAL(28,12)))
                   OVER (ORDER BY t ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS h
        FROM risk
    )
    SELECT t AS duration_months, n_risk, d AS d_events,
           round(CAST(h AS DOUBLE), 6) AS cum_hazard,
           round(exp(-CAST(h AS DOUBLE)), 6) AS fh_survival
    FROM na
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of customer lifetime (block
    comment above)."""
    risk = life_table(spark, sf_dir)
    w_asc = (
        Window.partitionBy()
        .orderBy(F.asc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    na = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(
            F.round(F.col("d") * 1.0 / F.col("n_risk"), 12).cast(
                "decimal(28,12)"
            )
        )
        .over(w_asc)
        .alias("h"),
    )
    h = F.col("h").cast("double")
    return na.select(
        F.col("t").alias("duration_months"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.round(h, 6).alias("cum_hazard"),
        F.round(F.exp(-h), 6).alias("fh_survival"),
    )


# ---------------------------------------------- permutation test
# The assumption-free twin of stats_welch_ttest: is the urgent-vs-
# other gap in mean order value explainable by chance? Re-randomize
# the arm label PERM_B times and count permuted gaps at least as
# extreme as the observed one. Labels come from the seeded md5
# uniform (the bootstrap's A-Res device — no RNG state, identical
# hex both engines), so every "random" permutation is a pure function
# of (order key, replicate, seed) and the whole test replays
# bit-equal. Per replicate: DECIMAL-exact sums per arm, gap as a
# double of exact scalars; the comparison |gap_r| >= |gap_obs| is the
# same double expression on both engines. The explode is rows x B
# with narrow columns and a map-side-combinable (replicate, arm)
# aggregate — the bootstrap's documented cost shape, linear in B.


PERM_B = 64
PERM_SEED = "perm-1"
_PERM_DENOM = 16**15


@query(
    "stats_permutation_test",
    oracle=f"""
    WITH base AS (
        SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS arm,
               o_orderkey
        FROM orders
    ),
    obs AS (
        SELECT CAST(sum(CASE WHEN arm = 1 THEN v END) AS DOUBLE)
                   / count(CASE WHEN arm = 1 THEN 1 END)
               - CAST(sum(CASE WHEN arm = 0 THEN v END) AS DOUBLE)
                   / count(CASE WHEN arm = 0 THEN 1 END) AS d_obs
        FROM base
    ),
    rep AS (
        SELECT r,
               CASE WHEN CAST(('0x' || substr(md5('{PERM_SEED}:'
                        || CAST(o_orderkey AS VARCHAR) || ':'
                        || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)
                    < {_PERM_DENOM} / 2 THEN 1 ELSE 0 END AS parm,
               v
        FROM base, unnest(range(0, {PERM_B})) AS t(r)
    ),
    gaps AS (
        SELECT r,
               CAST(sum(CASE WHEN parm = 1 THEN v END) AS DOUBLE)
                   / count(CASE WHEN parm = 1 THEN 1 END)
               - CAST(sum(CASE WHEN parm = 0 THEN v END) AS DOUBLE)
                   / count(CASE WHEN parm = 0 THEN 1 END) AS d_r
        FROM rep GROUP BY r
    )
    SELECT round(d_obs, 6) AS observed_gap,
           CAST({PERM_B} AS BIGINT) AS n_permutations,
           CAST(sum(CASE WHEN abs(d_r) >= abs(d_obs) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_as_extreme,
           round((1.0 + sum(CASE WHEN abs(d_r) >= abs(d_obs)
                                 THEN 1 ELSE 0 END)) / (1 + {PERM_B}), 6)
               AS p_value
    FROM gaps CROSS JOIN obs
    GROUP BY d_obs
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded permutation test for the urgent-vs-other mean order
    value gap (block comment above)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("arm"),
        "o_orderkey",
    )
    obs = base.agg(
        (
            F.sum(F.when(F.col("arm") == 1, F.col("v"))).cast("double")
            / F.count(F.when(F.col("arm") == 1, 1))
            - F.sum(F.when(F.col("arm") == 0, F.col("v"))).cast("double")
            / F.count(F.when(F.col("arm") == 0, 1))
        ).alias("d_obs")
    )
    u_expr = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(PERM_SEED),
                    F.col("o_orderkey").cast("string"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    rep = base.select(
        "v",
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_B - 1))).alias("r"),
    ).select(
        "r",
        "v",
        F.when(u_expr < _PERM_DENOM / 2, 1).otherwise(0).alias("parm"),
    )
    gaps = rep.groupBy("r").agg(
        (
            F.sum(F.when(F.col("parm") == 1, F.col("v"))).cast("double")
            / F.count(F.when(F.col("parm") == 1, 1))
            - F.sum(F.when(F.col("parm") == 0, F.col("v"))).cast("double")
            / F.count(F.when(F.col("parm") == 0, 1))
        ).alias("d_r")
    )
    extreme = F.when(
        F.abs(F.col("d_r")) >= F.abs(F.col("d_obs")), 1
    ).otherwise(0)
    return (
        gaps.crossJoin(F.broadcast(obs))  # one-row scalar broadcast
        .groupBy("d_obs")
        .agg(
            F.sum(extreme).alias("n_as_extreme"),
        )
        .select(
            F.round(F.col("d_obs"), 6).alias("observed_gap"),
            F.lit(PERM_B).cast("bigint").alias("n_permutations"),
            "n_as_extreme",
            F.round(
                (1.0 + F.col("n_as_extreme")) / (1 + PERM_B), 6
            ).alias("p_value"),
        )
    )


# ------------------------------------- DP Laplace count release
# A differentially-private count release for the customer-per-nation
# table: exact counts plus Laplace(sensitivity/epsilon) noise via the
# inverse CDF, noise = -b * sign(u - 0.5) * ln(1 - 2|u - 0.5|). The
# noise draw is SEEDED (md5 of release-id + group key — the house
# A-Res uniform), which is how production DP releases are actually
# shipped: the noise must be reproducible for audit within a release
# while fresh per release-id, and it must NOT be recomputable per
# query run with different draws (averaging re-draws would defeat the
# privacy budget). Counting query sensitivity = 1. One hash agg to
# the 25-row nation grain, one hash per GROUP (not per row).


DP_EPSILON = 1.0
DP_RELEASE = "release-2026-08"
_DP_DENOM = 16**15


@query(
    "privacy_dp_count_laplace",
    oracle=f"""
    WITH c AS (
        SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS true_count
        FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
        GROUP BY 1
    ),
    u AS (
        SELECT nation, true_count,
               (CAST(('0x' || substr(md5('{DP_RELEASE}:' || nation), 1, 15))
                     AS BIGINT) + 1) / {_DP_DENOM}.0 AS uu
        FROM c
    )
    SELECT nation, true_count,
           round(-1.0 / {DP_EPSILON}
                 * CASE WHEN uu - 0.5 > 0 THEN 1.0
                        WHEN uu - 0.5 < 0 THEN -1.0 ELSE 0.0 END
                 * ln(1.0 - 2.0 * abs(uu - 0.5)), 6) AS noise,
           round(true_count
                 - 1.0 / {DP_EPSILON}
                 * CASE WHEN uu - 0.5 > 0 THEN 1.0
                        WHEN uu - 0.5 < 0 THEN -1.0 ELSE 0.0 END
                 * ln(1.0 - 2.0 * abs(uu - 0.5)), 6) AS released_count
    FROM u ORDER BY nation
    """,
)
def privacy_dp_count_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Laplace-noise DP release of per-nation customer counts
    (block comment above)."""
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = (
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    uu = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{DP_RELEASE}:"), F.col("nation"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / float(_DP_DENOM)
    centered = uu - 0.5
    sign = (
        F.when(centered > 0, 1.0).when(centered < 0, -1.0).otherwise(0.0)
    )
    noise = -1.0 / DP_EPSILON * sign * F.log(1.0 - 2.0 * F.abs(centered))
    return c.select(
        "nation",
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 6).alias("released_count"),
    ).orderBy("nation")


# ------------------------------------ two-proportion power analysis
# Experiment sizing from live data: given the observed baseline
# conversion rate (purchase share of events — the event-level rate,
# which stays far from the [0,1] boundary at every SF, unlike the
# near-saturated per-user rate) and a target relative lift, how many users per arm does a
# two-proportion z-test need at alpha = 0.05 / power = 0.80? The
# standard closed form n = (z_a * sqrt(2 p_bar q_bar) + z_b *
# sqrt(p1 q1 + p2 q2))^2 / (p2 - p1)^2, evaluated once per candidate
# lift. Baseline counts are exact integers; z constants are fixed
# literals on both engines; one row per lift from a tiny VALUES
# relation crossed with the 1-row baseline aggregate.


_Z_ALPHA = 1.959964  # two-sided 0.05
_Z_BETA = 0.841621  # power 0.80
_LIFTS = (0.02, 0.05, 0.10, 0.20)


@query(
    "ab_power_two_proportions",
    oracle=f"""
    WITH conv AS (
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS n_conv
        FROM events
    ),
    lifts AS (
        -- explicit DOUBLE: a bare 0.02 literal is DECIMAL in DuckDB
        -- and (1 + rel_lift) would then differ from Spark's double
        -- sum in the last ulp — and n_per_arm goes through ceil()
        SELECT unnest(ARRAY[{', '.join(f'CAST({x} AS DOUBLE)' for x in _LIFTS)}])
            AS rel_lift
    ),
    p AS (
        SELECT rel_lift, n_events, n_conv,
               CAST(n_conv AS DOUBLE) / n_events AS p1,
               CAST(n_conv AS DOUBLE) / n_events * (1 + rel_lift) AS p2
        FROM conv CROSS JOIN lifts
    )
    SELECT rel_lift, n_events AS n_events_observed,
           round(p1, 6) AS baseline_rate,
           round(p2, 6) AS target_rate,
           CAST(ceil(pow({_Z_ALPHA} * sqrt(2 * (p1 + p2) / 2
                                           * (1 - (p1 + p2) / 2))
                         + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)),
                         2)
                     / pow(p2 - p1, 2)) AS BIGINT) AS n_per_arm
    FROM p ORDER BY rel_lift
    """,
)
def ab_power_two_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required sample size per arm for a two-proportion z-test at
    data-derived baseline (block comment above)."""
    events = load_table(spark, sf_dir, "events")
    conv = events.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(
            F.when(F.col("event_type") == "purchase", 1)
        ).alias("n_conv"),
    )
    lifts = F.explode(
        F.array(*[F.lit(x) for x in _LIFTS])
    ).alias("rel_lift")
    p1 = F.col("n_conv").cast("double") / F.col("n_events")
    p = conv.select("n_events", "n_conv", lifts).select(
        "rel_lift",
        "n_events",
        p1.alias("p1"),
        (p1 * (1 + F.col("rel_lift"))).alias("p2"),
    )
    pbar = (F.col("p1") + F.col("p2")) / 2
    num = (
        _Z_ALPHA * F.sqrt(2 * pbar * (1 - pbar))
        + _Z_BETA
        * F.sqrt(
            F.col("p1") * (1 - F.col("p1"))
            + F.col("p2") * (1 - F.col("p2"))
        )
    )
    return p.select(
        "rel_lift",
        F.col("n_events").alias("n_events_observed"),
        F.round("p1", 6).alias("baseline_rate"),
        F.round("p2", 6).alias("target_rate"),
        F.ceil(F.pow(num, 2) / F.pow(F.col("p2") - F.col("p1"), 2))
        .cast("bigint")
        .alias("n_per_arm"),
    ).orderBy("rel_lift")


# ---------------------------------------------- daily bounce rate
# The engagement-quality headline on every product dashboard: what
# share of sessions is a single event and gone? Reuses sessionize's
# exact machinery verbatim (same 30-min gap constant, same
# microsecond-exact lag comparison, same (ts, event_id) total-order
# tiebreak) but folds to the session grain and then the day grain —
# day = the session's FIRST event's date, so a midnight-spanning
# session counts once. Two stacked user-key windows + two hash aggs;
# rates are integer-count ratios rounded once.


from .windows import SESSION_GAP_S  # single source for the gap rule


@query(
    "window_bounce_rate_daily",
    oracle=f"""
    WITH flagged AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_ord
        FROM flagged
    ),
    per_sess AS (
        SELECT user_id, sess_ord,
               CAST(count(*) AS BIGINT) AS n_events,
               strftime(CAST(min(ts) AS DATE), '%Y-%m-%d') AS day
        FROM sess GROUP BY 1, 2
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS bounce_rate
    FROM per_sess GROUP BY 1 ORDER BY day
    """,
)
def window_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of single-event sessions per day (block comment
    above)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = events.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > SESSION_GAP_S * 1_000_000), 1).otherwise(
            0
        ),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(run).alias("sess_ord")
    )
    per_sess = sess.groupBy("user_id", "sess_ord").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.to_date(F.min("ts")), "yyyy-MM-dd").alias("day"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        per_sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounce.alias("n_bounces"),
            F.round(bounce * 1.0 / F.count(F.lit(1)), 6).alias(
                "bounce_rate"
            ),
        )
        .orderBy("day")
    )


# ----------------------------------- order-total reconciliation DQ
# The cross-table consistency audit: does each order's header total
# agree with the sum of its lines at line-level pricing
# (extprice * (1 - discount) * (1 + tax))? Reports the gap
# DISTRIBUTION (exact / <1% / <5% / <10% / >=10% / missing-lines)
# rather than a pass/fail, which is what you actually triage from.
# Boundary-proof: both totals are folded to EXACT integer
# micro-cents (every factor is a short DECIMAL, so the triple
# product is an exact DECIMAL(·,6) and *1e6 is integral — never a
# double*100 cast, the documented trap), and the percent buckets
# compare 100*|gap| against pct*total in pure BIGINT
# cross-multiplication. One fact aggregate co-partitioned on the
# order key + a left join from the header — the two biggest tables
# shuffle once each on the same key.


@query(
    "dq_order_total_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))
                        * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 1000000
                    AS BIGINT) AS li_micro
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000 AS BIGINT)
                   AS o_micro,
               li_micro
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    ),
    b AS (
        SELECT CASE
                 WHEN li_micro IS NULL THEN 'no_lines'
                 WHEN li_micro = o_micro THEN 'exact'
                 WHEN 100 * abs(li_micro - o_micro) < 1 * o_micro THEN 'lt_1pct'
                 WHEN 100 * abs(li_micro - o_micro) < 5 * o_micro THEN 'lt_5pct'
                 WHEN 100 * abs(li_micro - o_micro) < 10 * o_micro THEN 'lt_10pct'
                 ELSE 'ge_10pct'
               END AS gap_bucket
        FROM j
    )
    SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n_orders,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS share
    FROM b GROUP BY 1 ORDER BY gap_bucket
    """,
)
def dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-lines order total reconciliation in exact
    micro-cents (block comment above)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            (
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(4,2)"))
                    * (1 + F.col("l_tax").cast("decimal(4,2)"))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("li_micro")
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 1000000)
        .cast("bigint")
        .alias("o_micro"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    gap = 100 * F.abs(F.col("li_micro") - F.col("o_micro"))
    bucket = (
        F.when(F.col("li_micro").isNull(), "no_lines")
        .when(F.col("li_micro") == F.col("o_micro"), "exact")
        .when(gap < 1 * F.col("o_micro"), "lt_1pct")
        .when(gap < 5 * F.col("o_micro"), "lt_5pct")
        .when(gap < 10 * F.col("o_micro"), "lt_10pct")
        .otherwise("ge_10pct")
    )
    b = j.select(bucket.alias("gap_bucket"))
    counted = b.groupBy("gap_bucket").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return counted.select(
        "gap_bucket",
        "n_orders",
        F.round(
            F.col("n_orders") * 1.0
            / F.sum("n_orders").over(Window.partitionBy()),
            6,
        ).alias("share"),
    ).orderBy("gap_bucket")


# ------------------------------------- net revenue retention (NRR)
# The SaaS growth metric: for each acquisition cohort (first-order
# month), what share of its month-0 revenue does the SAME cohort
# spend k months later? Complements cohort_retention_matrix (which
# counts heads, not dollars). Revenue sums are exact DECIMAL; the
# month offset is integer month arithmetic on both engines; the
# ratio divides two exact decimals cast to double and rounds once.
# Plan: one customer-grain min-aggregate, a customer-key join back
# onto orders (both sides shuffle once on o_custkey), then the tiny
# (cohort, offset) grain with a cohort-key self-join to pin month-0
# revenue — all dimension-sized after the first fold.


@query(
    "analytics_net_revenue_retention",
    oracle="""
    WITH fm AS (
        SELECT o_custkey,
               min(date_trunc('month', o_orderdate)) AS cohort_m
        FROM orders GROUP BY 1
    ),
    rev AS (
        SELECT strftime(fm.cohort_m, '%Y-%m') AS cohort_month,
               CAST((year(o.o_orderdate) - year(fm.cohort_m)) * 12
                    + (month(o.o_orderdate) - month(fm.cohort_m)) AS INT)
                   AS month_offset,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders o JOIN fm ON o.o_custkey = fm.o_custkey
        GROUP BY 1, 2
    )
    SELECT r.cohort_month AS cohort_month,
           r.month_offset AS month_offset,
           CAST(r.revenue AS DOUBLE) AS revenue,
           round(CAST(r.revenue AS DOUBLE) / CAST(m0.revenue AS DOUBLE), 6)
               AS nrr
    FROM rev r JOIN rev m0
      ON m0.cohort_month = r.cohort_month AND m0.month_offset = 0
    WHERE r.month_offset <= 12
    ORDER BY cohort_month, month_offset
    """,
)
def analytics_net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar retention per acquisition cohort and month offset
    (block comment above)."""
    o = load_table(spark, sf_dir, "orders")
    fm = o.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "month")).alias("cohort_m")
    )
    rev = (
        o.join(fm, "o_custkey")
        .groupBy(
            F.date_format("cohort_m", "yyyy-MM").alias("cohort_month"),
            (
                (F.year("o_orderdate") - F.year("cohort_m")) * 12
                + (F.month("o_orderdate") - F.month("cohort_m"))
            )
            .cast("int")
            .alias("month_offset"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "revenue"
            )
        )
        # (cohort, offset) grain fans out to itself (the month-0 pin)
        .localCheckpoint(eager=False)
    )
    m0 = rev.filter(F.col("month_offset") == 0).select(
        "cohort_month", F.col("revenue").alias("rev0")
    )
    return (
        rev.filter(F.col("month_offset") <= 12)
        .join(m0, "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(
                F.col("revenue").cast("double")
                / F.col("rev0").cast("double"),
                6,
            ).alias("nrr"),
        )
        .orderBy("cohort_month", "month_offset")
    )


# --------------------------------- daily error rate with Wilson CI
# SRE's error-budget view with honest uncertainty: per day, the share
# of events that are errors, wrapped in the Wilson score interval —
# the binomial CI that behaves at small n and extreme rates where
# the naive Wald interval collapses (Wilson 1927). Counts are exact
# integers; the interval is one double expression over (k, n, z)
# with a fixed z literal, identical trees both engines. One hash agg
# on the day grain; the scan is the only volume term.


_WILSON_Z = 1.959964


def wilson_bounds() -> list[Column]:
    """The error_rate, wilson_lo and wilson_hi columns of ``k`` errors
    in ``n`` events: the share k/n and its Wilson 95% score interval,
    each rounded to 6 places. Also the interval of the streaming twin
    (batch_windows.wilson_error_rate_agg)."""
    z = _WILSON_Z
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return [
        F.round(p, 6).alias("error_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ]


@query(
    "dq_error_rate_wilson",
    oracle=f"""
    WITH d AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                    AS BIGINT) AS k
        FROM events GROUP BY 1
    )
    SELECT day, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS error_rate,
           round((CAST(k AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  - {_WILSON_Z} * sqrt(CAST(k AS DOUBLE) / n
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
           round((CAST(k AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  + {_WILSON_Z} * sqrt(CAST(k AS DOUBLE) / n
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
    FROM d ORDER BY day
    """,
)
def dq_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error share with Wilson 95% bounds (block comment
    above)."""
    events = load_table(spark, sf_dir, "events")
    d = events.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("k"),
    )
    return d.select("day", "n", "k", *wilson_bounds()).orderBy("day")
