"""Round-7 session-4 breadth: A/B sample-ratio-mismatch guardrail,
U-shaped (position-based) attribution, the price/volume revenue
bridge, Jarque-Bera normality, Levene variance homogeneity, and the
Wald-Wolfowitz runs test — the experimentation-guardrail /
growth-accounting / classical-diagnostics families that round out
the engine's analytics surface.

House determinism rules (registry module docstring): identical
aliases both sides; money in DECIMAL; any moment or count that feeds
a double expression is accumulated EXACTLY first (BIGINT /
DECIMAL(38,0) / cross-multiplied integer forms) so the double math is
a pure function of exact scalars and the rounded outputs are
bit-equal across engines. Where a comparison could land on a rounding
boundary (the analytics_cohort_ltv_curve lesson) the comparison is
restated in integer arithmetic (the runs test compares doubled cents,
never a divided median).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .community import BASKET_PAIRS_ORACLE_CTES


# ------------------------------------------------ A/B SRM guardrail
# Sample-ratio mismatch is the first thing a trustworthy experiment
# platform checks: if the observed split across variants deviates
# from the designed split, EVERY downstream metric is suspect
# (bucketing bug, logging loss, bot filtering asymmetry). Variant
# assignment here is the deterministic hash-mod every platform uses
# (user_id % 3 — stable, engine-independent); the check is the
# chi-square GOF statistic against the designed 1/3 each. One
# distinct on the user grain + a 3-row aggregate; volume only moves
# the distinct, which shuffles on the key it already carries.


@query(
    "ab_srm_check",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    c AS (
        SELECT CAST(user_id % 3 AS BIGINT) AS variant,
               CAST(count(*) AS BIGINT) AS n_users
        FROM u GROUP BY 1
    ),
    t AS (SELECT variant, n_users,
                 CAST(sum(n_users) OVER () AS BIGINT) AS total_users
          FROM c)
    SELECT variant, n_users, total_users,
           round(CAST(total_users AS DOUBLE) / 3, 6) AS expected,
           round(pow(n_users - CAST(total_users AS DOUBLE) / 3, 2)
                 / (CAST(total_users AS DOUBLE) / 3), 6) AS chi2_term
    FROM t ORDER BY variant
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch chi-square over hash-mod variant
    assignment (block comment above)."""
    u = load_table(spark, sf_dir, "events").select("user_id").distinct()
    c = u.groupBy(
        (F.col("user_id") % 3).cast("bigint").alias("variant")
    ).agg(F.count(F.lit(1)).alias("n_users"))
    t = c.withColumn(
        "total_users", F.sum("n_users").over(Window.partitionBy())
    )
    exp = F.col("total_users").cast("double") / 3
    return t.select(
        "variant",
        "n_users",
        "total_users",
        F.round(exp, 6).alias("expected"),
        F.round(F.pow(F.col("n_users") - exp, 2) / exp, 6).alias(
            "chi2_term"
        ),
    ).orderBy("variant")


# ------------------------------------- position-based attribution
# The U-shaped (40/20/40) multi-touch model: the first and last
# touches before a user's first conversion each take 40% of the
# credit, the middles split the remaining 20% evenly (degenerate
# cases: a single touch takes 100%, a pair splits 50/50). This is
# the standard position-based scheme between last-touch (funnel.py)
# and time-decay — together the three cover the attribution models a
# marketing warehouse actually runs. Per user: one min-aggregate for
# the first purchase, one (rn, n) window over the preceding touches,
# a weight expression, and a channel-grain sum. The fact shuffles
# once on user_id (the window and the join share the layout); credit
# sums are doubles of exact rational weights — identical expression
# trees, rounded once.


@query(
    "attribution_position_based",
    oracle="""
    WITH fp AS (
        SELECT user_id, min(ts) AS p_ts
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    t AS (
        SELECT e.event_type,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn,
               count(*) OVER (PARTITION BY e.user_id) AS n
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.event_type IN ('view', 'click') AND e.ts < fp.p_ts
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                          WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                          WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
                          ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 6)
               AS credit
    FROM t GROUP BY 1 ORDER BY channel
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped 40/20/40 position-based attribution (block comment
    above)."""
    events = load_table(spark, sf_dir, "events")
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    touches = (
        events.join(fp, "user_id")
        .filter(
            F.col("event_type").isin("view", "click")
            & (F.col("ts") < F.col("p_ts"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id")
    t = touches.select(
        "event_type",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    wt = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        t.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum(wt), 6).alias("credit"),
        )
        .orderBy("channel")
    )


# --------------------------------------- price/volume revenue bridge
# Growth accounting's revenue bridge: decompose each brand's
# year-over-year revenue delta into what prices did (Laspeyres price
# effect, q1*(p2-p1)), what volume did (p1*(q2-q1)), and the joint
# term ((p2-p1)*(q2-q1)); the three sum exactly to rev2 - rev1, which
# the output carries so the identity is checkable row by row. Inputs
# per (brand, year) are EXACT: quantity sums in BIGINT, revenue sums
# in DECIMAL; the per-unit prices and effects are double expressions
# over those exact scalars. Two fact aggregates (one per year, same
# plan), a 25-row brand join — the part-dimension join is
# broadcast-sized at any SF since brands are a fixed vocabulary.


_BRIDGE_Y1, _BRIDGE_Y2 = 1997, 1998


def bridge_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, year) quantity/revenue grain for the bridge — exposed
    un-checkpointed so tests can assert the scan-level plan (the
    checkpoint below replaces the subtree with an ExistingRDD scan in
    the final plan, hiding PushedFilters from plan inspection)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yr = F.year("l_shipdate").cast("int")
    # range predicate, not year(col) IN (...): a function of the
    # column defeats parquet predicate pushdown — the range reaches
    # the scan as PushedFilters and prunes row groups at 100 TB
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(f"{_BRIDGE_Y1}-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit(f"{_BRIDGE_Y2 + 1}-01-01").cast("date"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), yr.alias("yr"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "rev"
            ),
        )
    )


@query(
    "analytics_price_volume_bridge",
    oracle=f"""
    WITH by_year AS (
        SELECT p.p_brand AS brand,
               CAST(year(l.l_shipdate) AS INT) AS yr,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= DATE '{_BRIDGE_Y1}-01-01'
          AND l.l_shipdate < DATE '{_BRIDGE_Y2 + 1}-01-01'
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT a.brand,
               a.qty AS q1, CAST(a.rev AS DOUBLE) AS r1,
               b.qty AS q2, CAST(b.rev AS DOUBLE) AS r2
        FROM by_year a JOIN by_year b ON a.brand = b.brand
        WHERE a.yr = {_BRIDGE_Y1} AND b.yr = {_BRIDGE_Y2}
    )
    SELECT brand,
           round(r1, 2) AS rev_y1,
           round(r2, 2) AS rev_y2,
           round(r2 - r1, 2) AS delta,
           round(q1 * (r2 / q2 - r1 / q1), 2) AS price_effect,
           round(r1 / q1 * (q2 - q1), 2) AS volume_effect,
           round((r2 / q2 - r1 / q1) * (q2 - q1), 2) AS joint_effect
    FROM wide ORDER BY brand
    """,
)
def analytics_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price/volume/joint revenue bridge per brand (block
    comment above)."""
    # brand x year grain (~50 rows) fans out to the two year branches
    # below; without this the whole fact scan + agg runs once per
    # branch (verified in the executed plan)
    by_year = bridge_by_year(spark, sf_dir).localCheckpoint(eager=False)
    a = by_year.filter(F.col("yr") == _BRIDGE_Y1).select(
        "brand",
        F.col("qty").alias("q1"),
        F.col("rev").cast("double").alias("r1"),
    )
    b = by_year.filter(F.col("yr") == _BRIDGE_Y2).select(
        "brand",
        F.col("qty").alias("q2"),
        F.col("rev").cast("double").alias("r2"),
    )
    wide = a.join(b, "brand")
    p1 = F.col("r1") / F.col("q1")
    p2 = F.col("r2") / F.col("q2")
    return wide.select(
        "brand",
        F.round("r1", 2).alias("rev_y1"),
        F.round("r2", 2).alias("rev_y2"),
        F.round(F.col("r2") - F.col("r1"), 2).alias("delta"),
        F.round(F.col("q1") * (p2 - p1), 2).alias("price_effect"),
        F.round(p1 * (F.col("q2") - F.col("q1")), 2).alias("volume_effect"),
        F.round((p2 - p1) * (F.col("q2") - F.col("q1")), 2).alias(
            "joint_effect"
        ),
    ).orderBy("brand")


# ------------------------------------------- Jarque-Bera normality
# The moment-based normality screen: JB = n/6 * (S^2 + K^2/4) from
# sample skewness S and excess kurtosis K. Raw moments of l_quantity
# (integer-valued, <= 50) accumulate EXACTLY — q^4 <= 6.25e6 so the
# per-row powers live in BIGINT and the sums in DECIMAL(38,0), exact
# past 1e12 rows where a BIGINT sum of fourth powers would overflow
# (the PMI ANSI-overflow lesson applied to moments). Central moments,
# skewness, kurtosis, and JB are then one identical double expression
# tree over five exact scalars. One scan, one 1-row aggregate.


@query(
    "stats_jarque_bera",
    oracle="""
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(q AS DECIMAL(38,0))) AS s1,
               sum(CAST(q * q AS DECIMAL(38,0))) AS s2,
               sum(CAST(q * q * q AS DECIMAL(38,0))) AS s3,
               sum(CAST(q * q * q * q AS DECIMAL(38,0))) AS s4
        FROM (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem)
    ),
    c AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n AS m2,
               (CAST(s3 AS DOUBLE)
                - 3 * (CAST(s1 AS DOUBLE) / n) * CAST(s2 AS DOUBLE)
                + 2 * n * pow(CAST(s1 AS DOUBLE) / n, 3)) / n AS m3,
               (CAST(s4 AS DOUBLE)
                - 4 * (CAST(s1 AS DOUBLE) / n) * CAST(s3 AS DOUBLE)
                + 6 * pow(CAST(s1 AS DOUBLE) / n, 2) * CAST(s2 AS DOUBLE)
                - 3 * n * pow(CAST(s1 AS DOUBLE) / n, 4)) / n AS m4
        FROM m
    )
    SELECT n,
           round(mu, 6) AS mean_qty,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                 + pow(m4 / (m2 * m2) - 3, 2) / 4), 6) AS jb_stat
    FROM c
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic over exact integer moments
    (block comment above)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q")
    )
    q = F.col("q")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast("decimal(38,0)")).alias("s1"),
        F.sum((q * q).cast("decimal(38,0)")).alias("s2"),
        F.sum((q * q * q).cast("decimal(38,0)")).alias("s3"),
        F.sum((q * q * q * q).cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("n")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3, s4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    mu = s1 / n
    c = m.select(
        n,
        mu.alias("mu"),
        ((s2 - s1 * s1 / n) / n).alias("m2"),
        ((s3 - 3 * mu * s2 + 2 * n * F.pow(mu, 3)) / n).alias("m3"),
        (
            (s4 - 4 * mu * s3 + 6 * F.pow(mu, 2) * s2 - 3 * n * F.pow(mu, 4))
            / n
        ).alias("m4"),
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    return c.select(
        "n",
        F.round("mu", 6).alias("mean_qty"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(exk, 2) / 4), 6
        ).alias("jb_stat"),
    )


# ------------------------------------ Levene variance homogeneity
# Levene's test (1960, mean-centered variant): are quantity variances
# equal across return-flag groups? ANOVA's F assumes they are; Levene
# is how you check. z_ij = |q_ij - mean_j| then one-way ANOVA on z.
# The determinism trick: |q - S/n| = |n*q - S| / n, and n*q - S is an
# EXACT integer — so per group we accumulate D1 = sum|n*q - S|
# (BIGINT) and D2 = sum (n*q - S)^2 (DECIMAL(38,0): the square
# reaches ~1e14 per row and overflows a BIGINT sum past ~1e4 rows),
# then every z-moment is an exact-scalar double: sum z = D1/n,
# sum z^2 = D2/n^2. Two fact passes (group sums, then deviations
# against the broadcast 3-row group frame) and a 3-row combine.
# W ~ F(k-1, N-k) under H0.


@query(
    "stats_levene_variance",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        FROM lineitem GROUP BY 1
    ),
    d AS (
        SELECT grp, n,
               CAST(sum(CAST(abs(dev) AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS d1,
               CAST(sum(CAST(dev AS DECIMAL(19,0))
                        * CAST(dev AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS d2
        FROM (
            SELECT g.grp, g.n,
                   g.n * CAST(l.l_quantity AS BIGINT) - g.s AS dev
            FROM lineitem l JOIN g ON l.l_returnflag = g.grp
        )
        GROUP BY 1, 2
    ),
    z AS (
        SELECT grp, n,
               CAST(d1 AS DOUBLE) / n AS sz,
               CAST(d2 AS DOUBLE) / n / n AS szz
        FROM d
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               sum(sz) AS sz_all,
               sum(szz) AS szz_all,
               sum(sz * sz / n) AS sb_term
        FROM z
    )
    SELECT k,
           nt AS n_total,
           round((sb_term - sz_all * sz_all / nt)
                 / (szz_all - sb_term)
                 * (nt - k) / (k - 1), 6) AS w_stat,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(nt - k AS BIGINT) AS df2
    FROM tot
    """,
)
def stats_levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's variance-homogeneity W across return-flag groups
    (block comment above)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    g = li.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    dev = F.col("n") * F.col("q") - F.col("s")
    dev_dec = dev.cast("decimal(19,0)")
    d = (
        li.join(F.broadcast(g), "grp")
        .groupBy("grp", "n")
        .agg(
            F.sum(F.abs(dev).cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("d1"),
            F.sum(dev_dec * dev_dec).cast("decimal(38,0)").alias("d2"),
        )
    )
    z = d.select(
        "grp",
        "n",
        (F.col("d1").cast("double") / F.col("n")).alias("sz"),
        (F.col("d2").cast("double") / F.col("n") / F.col("n")).alias("szz"),
    )
    tot = z.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("sz").alias("sz_all"),
        F.sum("szz").alias("szz_all"),
        F.sum(F.col("sz") * F.col("sz") / F.col("n")).alias("sb_term"),
    )
    k, nt = F.col("k"), F.col("nt")
    between = F.col("sb_term") - F.col("sz_all") * F.col("sz_all") / nt
    within = F.col("szz_all") - F.col("sb_term")
    return tot.select(
        k.alias("k"),
        nt.alias("n_total"),
        F.round(between / within * (nt - k) / (k - 1), 6).alias("w_stat"),
        (k - 1).cast("bigint").alias("df1"),
        (nt - k).cast("bigint").alias("df2"),
    )


# --------------------------------------- Wald-Wolfowitz runs test
# Is the daily revenue series random around its median, or does it
# trend/cluster? Count runs of above/below-median days; too few runs
# means positive serial dependence (trend), too many means
# oscillation. Boundary-proof determinism: daily revenue folds to
# exact INTEGER CENTS; the median comparison is 2*cents vs the SUM of
# the two middle order statistics (never a divided median — no
# float, no rounding boundary, the LTV-curve lesson); ties at the
# median are excluded per the classical test. The day grain is tiny
# (~2.4k rows) so the window chain costs nothing; the fact scan is
# the only volume term.


@query(
    "stats_runs_test",
    oracle="""
    WITH d AS (
        SELECT o_orderdate AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT day, cents,
               row_number() OVER (ORDER BY cents, day) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS nd
        FROM d
    ),
    med AS (
        -- sum of the two middle order statistics; an odd count picks
        -- the SAME rank twice so the middle value is doubled — med2
        -- is always 2x the continuous median, compared against
        -- 2*cents below (pure integers, no division anywhere)
        SELECT CAST(sum(cents
                        * (CASE WHEN rn = (nd + 1) // 2 THEN 1 ELSE 0 END
                           + CASE WHEN rn = (nd + 2) // 2 THEN 1 ELSE 0 END))
                    AS BIGINT) AS med2
        FROM ranked
    ),
    signed AS (
        SELECT day,
               CASE WHEN 2 * cents > med2 THEN 1 ELSE 0 END AS above
        FROM d CROSS JOIN med
        WHERE 2 * cents <> med2
    ),
    runs AS (
        SELECT above,
               CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                         OR lag(above) OVER (ORDER BY day) <> above
                    THEN 1 ELSE 0 END AS new_run
        FROM signed
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN above = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN above = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(new_run) AS BIGINT) AS r
        FROM runs
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           round(2.0 * n1 * n2 / (n1 + n2) + 1, 6) AS expected_runs,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (pow(CAST(n1 + n2 AS DOUBLE), 2) * (n1 + n2 - 1))),
                 6) AS z_stat
    FROM agg
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs its exact-cents
    median (block comment above)."""
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        # day-grain frame (~2.4k rows) fans out to the median ranking
        # AND the sign pass — materialize once so the fact aggregate
        # runs once, not per consumer (the materialize-once-small
        # discipline, SCALE.md)
        .localCheckpoint(eager=False)
    )
    w_rank = Window.partitionBy().orderBy("cents", "day")
    w_all = Window.partitionBy()
    ranked = d.select(
        "cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("nd"),
    )
    lo = F.floor((F.col("nd") + 1) / 2)
    hi = F.floor((F.col("nd") + 2) / 2)
    med = ranked.agg(
        F.sum(
            F.col("cents")
            * (
                (F.col("rn") == lo).cast("bigint")
                + (F.col("rn") == hi).cast("bigint")
            )
        ).alias("med2")
    )
    signed = (
        d.crossJoin(F.broadcast(med))  # one-row scalar broadcast (BNLJ-bounded)
        .filter(2 * F.col("cents") != F.col("med2"))
        .select(
            "day",
            F.when(2 * F.col("cents") > F.col("med2"), 1)
            .otherwise(0)
            .alias("above"),
        )
    )
    w_day = Window.partitionBy().orderBy("day")
    runs = signed.select(
        "above",
        F.when(
            F.lag("above").over(w_day).isNull()
            | (F.lag("above").over(w_day) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("above") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("above") == 0, 1).otherwise(0)).alias("n2"),
        F.sum("new_run").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    sigma = F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / (F.pow((n1 + n2).cast("double"), 2) * (n1 + n2 - 1))
    )
    return agg.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round((r - mu) / sigma, 6).alias("z_stat"),
    )


# ------------------------------------ degree assortativity (graph)
# Newman's degree assortativity over the part-part co-purchase graph:
# the Pearson correlation between the degrees at the two ends of each
# edge (positive = hubs link to hubs, negative = hub-and-spoke). The
# edge frame is the SHARED memoized basket_pair_edges (same bounded
# pair-space discipline and the same oracle CTE as triangle counting
# / link prediction — one build, many consumers). Both orientations
# of every undirected edge enter the sums, so x- and y-marginals are
# identical by construction. Every moment is EXACT: degrees are
# BIGINT counts; degree products reach deg^2 * E so the sums
# accumulate in DECIMAL(38,0); r is one double expression over six
# exact scalars. Plan: degree frame = one hash agg on the edge union,
# joined back onto edges by node key twice (part-grain frame — equi
# join, broadcast-eligible at this SF), one 1-row reduce.


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {BASKET_PAIRS_ORACLE_CTES},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT pa AS node FROM pairs
              UNION ALL SELECT pb FROM pairs)
        GROUP BY 1
    ),
    xy AS (
        SELECT da.d AS x, db.d AS y FROM pairs
        JOIN deg da ON da.node = pairs.pa
        JOIN deg db ON db.node = pairs.pb
        UNION ALL
        SELECT db.d, da.d FROM pairs
        JOIN deg da ON da.node = pairs.pa
        JOIN deg db ON db.node = pairs.pb
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
               sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
        FROM xy
    )
    SELECT n AS n_edge_ends,
           round(CAST(sx AS DOUBLE) / n, 6) AS mean_end_degree,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS assortativity_r
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase part graph (block
    comment above)."""
    from .community import basket_pair_edges_cached

    pairs = basket_pair_edges_cached(spark, sf_dir)
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionAll(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("dy"))
    joined = pairs.join(da, "pa").join(db, "pb")
    xy = joined.select(
        F.col("dx").alias("x"), F.col("dy").alias("y")
    ).unionAll(joined.select(F.col("dy").alias("x"), F.col("dx").alias("y")))
    m = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        n.alias("n_edge_ends"),
        F.round(sx / n, 6).alias("mean_end_degree"),
        F.round((n * sxy - sx * sx) / (n * sxx - sx * sx), 6).alias(
            "assortativity_r"
        ),
    )


# ------------------------------------------ 2-D PCA, closed form
# PCA on the two customer behavior features every CRM plots first —
# order count vs total spend — via the closed-form eigendecomposition
# of the 2x2 covariance matrix: lambda = (a + c)/2 +- sqrt(((a-c)/2)^2
# + b^2), principal-axis angle from tan(2*theta) = 2b/(a - c). The
# relational content is the moment aggregate: per-customer features
# fold to six EXACT scalars (counts and count-squares in BIGINT,
# money and money-squares in DECIMAL, the cross term BIGINT*DECIMAL),
# then covariance entries, eigenvalues, explained-variance ratio and
# angle are one double expression tree. This is the honest Spark
# shape for closed-form-solvable dimensionality reduction (the rank-2
# sibling of ml_linear_fit_closed_form); iterative power-iteration
# PCA at higher rank follows the logreg-GD convergence pattern.


@query(
    "ml_pca_2d_closed_form",
    oracle="""
    WITH feat AS (
        SELECT CAST(count(*) AS BIGINT) AS x,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               sum(y) AS sy,
               sum(y * y) AS syy,
               sum(x * y) AS sxy
        FROM feat
    ),
    cov AS (
        SELECT n,
               (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / n / (n - 1) AS a,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / n / (n - 1) AS b,
               (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                   / n / (n - 1) AS c
        FROM m
    )
    SELECT n AS n_customers,
           round(a, 6) AS var_orders,
           round(c, 0) AS var_spend,
           round(b, 4) AS cov_orders_spend,
           round((a + c) / 2
                 + sqrt(((a - c) / 2) * ((a - c) / 2) + b * b), 0)
               AS lambda1,
           round((a + c) / 2
                 - sqrt(((a - c) / 2) * ((a - c) / 2) + b * b), 6)
               AS lambda2,
           round(((a + c) / 2
                  + sqrt(((a - c) / 2) * ((a - c) / 2) + b * b))
                 / (a + c), 6) AS explained_ratio,
           round(degrees(atan2(2 * b, a - c)) / 2, 6) AS theta_deg
    FROM cov
    """,
)
def ml_pca_2d_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2-D PCA over (order count, total spend) per
    customer (block comment above)."""
    o = load_table(spark, sf_dir, "orders")
    feat = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"),
    )
    m = feat.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = m.select(
        n,
        ((n * sxx - sx * sx) / n / (n - 1)).alias("a"),
        ((n * sxy - sx * sy) / n / (n - 1)).alias("b"),
        ((n * syy - sy * sy) / n / (n - 1)).alias("c"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    # ((a-c)/2)^2 as an explicit multiply, NOT F.pow(x, 2): IEEE
    # multiplication is correctly rounded (bit-identical across
    # engines) while libm pow() is not — and at |lambda1| ~ 1e12 a
    # pow ulp wobble is the same hash-flip trap as the r8 DP-sum ln
    # (see tools/round_headroom_audit.py; rounding dropped to whole
    # units for >1e3x ulp headroom at this magnitude).
    half_gap = (a - c) / 2
    root = F.sqrt(half_gap * half_gap + b * b)
    lam1 = (a + c) / 2 + root
    lam2 = (a + c) / 2 - root
    return cov.select(
        n.alias("n_customers"),
        F.round(a, 6).alias("var_orders"),
        F.round(c, 0).alias("var_spend"),
        F.round(b, 4).alias("cov_orders_spend"),
        F.round(lam1, 0).alias("lambda1"),
        F.round(lam2, 6).alias("lambda2"),
        F.round(lam1 / (a + c), 6).alias("explained_ratio"),
        F.round(F.degrees(F.atan2(2 * b, a - c)) / 2, 6).alias("theta_deg"),
    )


# ----------------------------------- calibration reliability table
# The reliability diagram behind every "is this model calibrated?"
# review, as a relational op: bucket rows by a quoted score, compare
# the quoted probability against the empirical outcome rate, and fold
# the gaps into ECE (expected calibration error, bin-weighted |gap|).
# Here the quoted score is the line item's discount mapped to [0, 1]
# (a deterministic stand-in with the exact shape of a model-score
# column) and the outcome is whether the item was returned. Bins key
# on the EXACT DECIMAL(4,2) cast of the score (never the raw double
# — the cast trap); rates are integer-count ratios; ECE contributions
# carry each bin's exact weight. One hash agg + a window total.


@query(
    "ml_calibration_reliability",
    oracle="""
    WITH b AS (
        SELECT CAST(l_discount AS DECIMAL(4,2)) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos
        FROM lineitem GROUP BY 1
    ),
    t AS (SELECT bin, n, n_pos,
                 CAST(sum(n) OVER () AS BIGINT) AS total FROM b)
    SELECT CAST(bin AS DOUBLE) * 10 AS predicted,
           n,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS empirical,
           round(CAST(bin AS DOUBLE) * 10 - CAST(n_pos AS DOUBLE) / n, 6)
               AS gap,
           round(CAST(n AS DOUBLE) / total
                 * abs(CAST(bin AS DOUBLE) * 10 - CAST(n_pos AS DOUBLE) / n),
                 6) AS ece_term
    FROM t ORDER BY predicted
    """,
)
def ml_calibration_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins + ECE terms for a quoted score column
    (block comment above)."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.col("l_discount").cast("decimal(4,2)").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "n_pos"
        ),
    )
    t = b.withColumn("total", F.sum("n").over(Window.partitionBy()))
    pred = F.col("bin").cast("double") * 10
    emp = F.col("n_pos").cast("double") / F.col("n")
    return t.select(
        pred.alias("predicted"),
        "n",
        F.round(emp, 6).alias("empirical"),
        F.round(pred - emp, 6).alias("gap"),
        F.round(
            F.col("n").cast("double") / F.col("total") * F.abs(pred - emp), 6
        ).alias("ece_term"),
    ).orderBy("predicted")


# -------------------------------------- referential-integrity audit
# The DQ check a warehouse runs before anything else: does every
# foreign key resolve? One row per FK relation with child cardinality,
# orphan count, and orphan share. Each relation is a LEFT ANTI join
# of child keys against the parent key set — the join keys are the
# natural shuffle keys (or a broadcast of the parent key column when
# the dimension is small); counts are exact. The five relations scan
# independently and union into the 5-row report, so a scheduler can
# also run them as independent stages at 100 TB.


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT fk, n_child, n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_share
    FROM (
        SELECT 'lineitem.l_orderkey->orders' AS fk,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT CAST(count(*) AS BIGINT) FROM orders),
               (SELECT CAST(count(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT CAST(count(*) AS BIGINT) FROM customer),
               (SELECT CAST(count(*) AS BIGINT) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
    )
    ORDER BY fk
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-count audit of the five FK relations (block comment
    above)."""
    def audit(fk: str, child: DataFrame, key: str, parent: DataFrame,
              pkey: str) -> DataFrame:
        # ONE pass per relation: left join against the (unique) parent
        # key column, then child count and null-parent count in the
        # same aggregate — no anti-join second scan, no scalar
        # crossJoin. The distinct guards the count against a
        # non-unique parent (the very defect this audit exists to
        # catch would otherwise multiply child rows).
        joined = child.select(F.col(key).alias("_k")).join(
            parent.select(F.col(pkey).alias("_p")).distinct(),
            F.col("_k") == F.col("_p"),
            "left",
        )
        return joined.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)).alias(
                "n_orphans"
            ),
        ).select(
            F.lit(fk).alias("fk"),
            "n_child",
            "n_orphans",
            F.round(
                F.col("n_orphans").cast("double") / F.col("n_child"), 6
            ).alias("orphan_share"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    parts = [
        audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        audit("lineitem.l_partkey->part", li, "l_partkey",
              load_table(spark, sf_dir, "part"), "p_partkey"),
        audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
              load_table(spark, sf_dir, "supplier"), "s_suppkey"),
        audit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        audit("customer.c_nationkey->nation", c, "c_nationkey",
              load_table(spark, sf_dir, "nation"), "n_nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("fk")


# -------------------------------------------- top-k user journeys
# The product-analytics "paths" report: each user's first PATH_LEN
# event types concatenated in time order, counted across users, top
# PATH_TOP paths. Ordering inside a user is made deterministic the
# house way — collect (rn, type) structs and sort_array them, never
# a bare collect_list (whose order is partition-arrival chance); the
# (ts, event_id) tiebreak matches the oracle's ORDER BY. Plan: one
# user-key window for rn, one user-grain agg, one path-grain count —
# two shuffles, both on uniform keys; the path vocabulary is tiny.


PATH_LEN = 5
PATH_TOP = 20


@query(
    "seq_user_path_topk",
    oracle=f"""
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= {PATH_LEN} GROUP BY 1
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY 1
    ORDER BY n_users DESC, path
    LIMIT {PATH_TOP}
    """,
)
def seq_user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top first-{PATH_LEN}-event journeys across users (block
    comment above)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= PATH_LEN)
    p = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(PATH_TOP)
    )


# ------------------------------------- collocation mining via LLR
# Dunning's log-likelihood-ratio collocation test (1993) — the
# robust-at-low-counts alternative to PMI (text.py): for each
# adjacent bigram, G2 = 2 * [ sum_ij k_ij ln k_ij  -  sum_i r_i ln r_i
# - sum_j c_j ln c_j + N ln N ] over the 2x2 contingency table
# (bigram present/absent x first-word/second-word), computed from
# EXACT integer counts in log space — every count is exact as a
# double far past any real corpus' vocabulary (the PMI ANSI-overflow
# lesson; no products of counts are ever formed). Tokenization and
# plan shape are shared with PMI: doc-local array transform + one
# explode, bigram hash agg, word-marginal joins on the word key,
# one-row corpus total broadcast. Same MIN_PAIR floor and top-k.


LLR_MIN_PAIR = 5
LLR_TOP = 30


def _xlx(e: str) -> str:
    """SQL for x*ln(x) with the 0*ln(0)=0 convention, identical text
    on both engines."""
    return f"(CASE WHEN {e} > 0 THEN {e} * ln(CAST({e} AS DOUBLE)) ELSE 0 END)"


@query(
    "text_collocation_llr",
    oracle=f"""
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ),
    big AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS k11 FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                          i -> {{'x': toks[i], 'y': toks[i + 1]}}),
                   recursive := true)
            FROM t WHERE len(toks) >= 2
        )
        GROUP BY 1, 2
    ),
    lx AS (SELECT x, CAST(sum(k11) AS BIGINT) AS cx FROM big GROUP BY 1),
    ry AS (SELECT y, CAST(sum(k11) AS BIGINT) AS cy FROM big GROUP BY 1),
    nn AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM big),
    cells AS (
        SELECT big.x, big.y, k11,
               cx - k11 AS k12, cy - k11 AS k21,
               n - cx - cy + k11 AS k22,
               cx, cy, n
        FROM big JOIN lx ON lx.x = big.x
                 JOIN ry ON ry.y = big.y
                 CROSS JOIN nn
    )
    SELECT x, y, k11 AS n_pair,
           round(2 * ({_xlx('k11')} + {_xlx('k12')} + {_xlx('k21')}
                      + {_xlx('k22')}
                      - {_xlx('cx')} - {_xlx('(n - cx)')}
                      - {_xlx('cy')} - {_xlx('(n - cy)')}
                      + {_xlx('n')}), 6) AS llr
    FROM cells
    WHERE k11 >= {LLR_MIN_PAIR}
    ORDER BY llr DESC, x, y
    LIMIT {LLR_TOP}
    """,
)
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by Dunning log-likelihood ratio (block
    comment above)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("toks"))
    big = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS x, toks[i + 1] AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("k11"))
    )
    # lazy lineage cut at the BIGRAM-VOCAB grain: big feeds the two
    # marginals, the corpus total and the cells join — four
    # consumers, each a separate corpus tokenize+aggregate before
    # (guide §1.2; the plan scanned documents 4x)
    big = big.localCheckpoint(eager=False)
    lx = big.groupBy("x").agg(F.sum("k11").alias("cx"))
    ry = big.groupBy("y").agg(F.sum("k11").alias("cy"))
    nn = big.agg(F.sum("k11").alias("n"))
    cells = (
        big.join(lx, "x")
        .join(ry, "y")
        .crossJoin(F.broadcast(nn))  # one-row corpus total (BNLJ-bounded)
        .select(
            "x",
            "y",
            "k11",
            (F.col("cx") - F.col("k11")).alias("k12"),
            (F.col("cy") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("cx") - F.col("cy") + F.col("k11")).alias(
                "k22"
            ),
            "cx",
            "cy",
            "n",
        )
    )
    llr = 2 * (
        F.expr(_xlx("k11"))
        + F.expr(_xlx("k12"))
        + F.expr(_xlx("k21"))
        + F.expr(_xlx("k22"))
        - F.expr(_xlx("cx"))
        - F.expr(_xlx("(n - cx)"))
        - F.expr(_xlx("cy"))
        - F.expr(_xlx("(n - cy)"))
        + F.expr(_xlx("n"))
    )
    return (
        cells.filter(F.col("k11") >= LLR_MIN_PAIR)
        .select("x", "y", F.col("k11").alias("n_pair"), F.round(llr, 6).alias("llr"))
        .orderBy(F.desc("llr"), F.asc("x"), F.asc("y"))
        .limit(LLR_TOP)
    )
