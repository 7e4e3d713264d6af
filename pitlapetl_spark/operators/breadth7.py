"""Round-7 breadth additions: rank-correlation (Kendall), classical
ANOVA, autocorrelation, rolling distinct audience, l-diversity,
temperature-scaled mixture allocation, and balanced class
downsampling — operators a production analytics + training-data
engine is expected to have that the registry did not yet cover.

House determinism rules apply throughout (registry module docstring):
identical aliases both sides; money/value sums in DECIMAL; count
ratios in integer floor arithmetic where a round() boundary could
split engines (the analytics_cohort_ltv_curve lesson); K-row folds of
doubles go through round-then-DECIMAL so accumulation order cannot
flip a hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table


# --------------------------------------------------- Kendall tau-b
# Spearman (stats.py) ranks the whole sample once; Kendall asks the
# PAIRWISE question — of all day pairs, how many are concordant? —
# and is the standard robust alternative when the series is short and
# tied (daily counts tie constantly, hence tau-b with both tie
# corrections). Pair space is day-grain per event type: the same
# time-range-bounded O(days²) discipline as Theil-Sen, keyed on the
# event_type equi-join so the plan is a hash join + filter, never a
# nested loop over the fact.


@query(
    "stats_kendall_tau",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS dy,
               CAST(count(*) AS BIGINT) AS x,
               CAST(count(DISTINCT user_id) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n0
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.dy < b.dy
        GROUP BY 1
    ),
    tx AS (
        SELECT event_type, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n1
        FROM (SELECT event_type, x, count(*) AS t
              FROM daily GROUP BY 1, 2)
        GROUP BY 1
    ),
    ty AS (
        SELECT event_type, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n2
        FROM (SELECT event_type, y, count(*) AS t
              FROM daily GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT p.event_type, p.n0 AS n_pairs, p.c AS concordant,
           p.d AS discordant,
           round((p.c - p.d)
                 / sqrt((p.n0 - tx.n1) * 1.0 * (p.n0 - ty.n2)), 6)
               AS tau_b
    FROM pairs p
    JOIN tx ON tx.event_type = p.event_type
    JOIN ty ON ty.event_type = p.event_type
    ORDER BY p.event_type
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b per event type between the daily event count and
    the daily distinct-user count (does volume move monotonically with
    audience size?). All inputs to the final division are exact
    integers (concordant/discordant pair counts, tie corrections), so
    both engines divide identical numbers once — no accumulation-order
    hazard anywhere."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("dy")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.countDistinct("user_id").alias("y"),
    )
    daily = daily.localCheckpoint(eager=False)  # both pair sides + ties
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.dy") < F.col("b.dy")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.when(sgn > 0, 1).otherwise(0)).alias("c"),
            F.sum(F.when(sgn < 0, 1).otherwise(0)).alias("d"),
            F.count(F.lit(1)).alias("n0"),
        )
    )

    def ties(col: str, out: str) -> DataFrame:
        return (
            daily.groupBy("event_type", col)
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("event_type")
            .agg(
                F.sum((F.col("t") * (F.col("t") - 1) / 2).cast("long")).alias(out)
            )
        )

    out = (
        pairs.join(ties("x", "n1"), "event_type")
        .join(ties("y", "n2"), "event_type")
    )
    return out.select(
        "event_type",
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d"))
            / F.sqrt(
                (F.col("n0") - F.col("n1")) * 1.0 * (F.col("n0") - F.col("n2"))
            ),
            6,
        ).alias("tau_b"),
    ).orderBy("event_type")


# ------------------------------------------------- one-way ANOVA
# The F-test the A/B family (z-score, Mann-Whitney, KS, CUPED, DiD)
# still lacked: does order value differ ACROSS the five order
# priorities jointly? Everything reduces to per-group exact moments
# (decimal sums of x and x²) — one map-combinable aggregate — and a
# 5-row fold; the fold's per-group terms are rounded then summed as
# DECIMAL so the 5-double accumulation order cannot flip the hash.


@query(
    "stats_anova_oneway",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
               sum(CAST(o_totalprice AS DECIMAL(18,2))
                   * CAST(o_totalprice AS DECIMAL(18,2))) AS ss
        FROM orders GROUP BY 1
    ),
    f AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(CAST(round(CAST(s AS DOUBLE), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS st,
               CAST(sum(CAST(round(CAST(ss AS DOUBLE), 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS sst,
               CAST(sum(CAST(round(CAST(s AS DOUBLE)
                                   * CAST(s AS DOUBLE) / n, 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS sb
        FROM g
    )
    SELECT k AS n_groups, nn AS n_rows,
           round((sb - st * st / nn) / (k - 1)
                 / ((sst - sb) / (nn - k)), 6) AS f_stat
    FROM f
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of order value across order
    priorities (block comment above). SSB = Σ S_g²/n_g − S²/N and
    SSW = Σx² − Σ S_g²/n_g from exact per-group decimal moments."""
    orders = load_table(spark, sf_dir, "orders")
    xd = F.col("o_totalprice").cast("decimal(18,2)")
    g = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("s"),
        F.sum(xd * xd).alias("ss"),
    )
    dec = "decimal(38,4)"
    f = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum(F.round(F.col("s").cast("double"), 4).cast(dec))
        .cast("double")
        .alias("st"),
        F.sum(F.round(F.col("ss").cast("double"), 4).cast(dec))
        .cast("double")
        .alias("sst"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double") / F.col("n"),
                4,
            ).cast(dec)
        )
        .cast("double")
        .alias("sb"),
    )
    return f.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.round(
            (F.col("sb") - F.col("st") * F.col("st") / F.col("nn"))
            / (F.col("k") - 1)
            / ((F.col("sst") - F.col("sb")) / (F.col("nn") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ------------------------------------------- autocorrelation (ACF)
# stats_xcorr_daily correlates TWO series per lag with a per-lag
# Pearson; the ACF is the single-series object forecasting actually
# consumes (the correlogram behind AR-order choice and seasonality
# detection), with the standard estimator: fixed GLOBAL mean and a
# fixed c0 denominator, NOT a per-lag re-centering — the two differ
# exactly when the series trends. Deviations are exact decimals from
# the shared decimal_mean8 expression; lag products are decimal-exact.

ACF_MAX_LAG = 14


@query(
    "ts_autocorrelation_acf",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS dy,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS v
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(round(CAST(sum(v) AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS mu,
               CAST(count(*) AS BIGINT) AS n
        FROM daily
    ),
    dev AS (
        -- DECIMAL(19,8): force DuckDB's INT128 multiply path — the
        -- (18,8)x(18,8) product overflows its INT64 storage on
        -- larger deviations (the ALS portability trap, SCALE.md)
        SELECT dy, CAST(v - (SELECT mu FROM m) AS DECIMAL(19,8)) AS d
        FROM daily
    ),
    c0 AS (SELECT sum(d * d) AS c FROM dev),
    lags AS (
        SELECT l, sum(a.d * b.d) AS cl
        FROM dev a
        CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS l)
        JOIN dev b ON b.dy = a.dy + l * INTERVAL 1 DAY
        GROUP BY l
    )
    SELECT CAST(l AS INT) AS lag_days,
           (SELECT n FROM m) AS n_days,
           round(CAST(cl AS DOUBLE) / CAST((SELECT c FROM c0) AS DOUBLE), 6)
               AS acf
    FROM lags
    ORDER BY lag_days
    """,
)
def ts_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the daily mean event value for lags 1..{ACF_MAX_LAG}
    (block comment above). One day-grain aggregate, one global-mean
    scalar broadcast (one-row crossJoin, BNLJ-bounded), an exploded
    lag equi-join at day grain, and exact decimal products — the
    xcorr plan shape with the ACF estimator's fixed mean/c0."""
    from .stats import decimal_mean8

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("dy")).agg(
        decimal_mean8("value").alias("v")
    )
    m = daily.agg(
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 8)
        .cast("decimal(18,8)")
        .alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    # one-row scalar broadcast (documented BNLJ, the house device)
    dev = daily.crossJoin(F.broadcast(m)).select(
        "dy", (F.col("v") - F.col("mu")).alias("d"), "n"
    )
    dev = dev.localCheckpoint(eager=False)  # c0 + both lag-join sides
    c0 = dev.agg(F.sum(F.col("d") * F.col("d")).alias("c"))
    a = dev.select(
        "dy",
        "d",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("l"),
    ).withColumn("target_dy", F.expr("timestampadd(DAY, l, dy)"))
    lags = a.join(
        dev.select(F.col("dy").alias("target_dy"), F.col("d").alias("bd")),
        "target_dy",
    ).groupBy("l", "n").agg(F.sum(F.col("d") * F.col("bd")).alias("cl"))
    return (
        lags.crossJoin(F.broadcast(c0))  # one-row scalar broadcast
        .select(
            F.col("l").cast("int").alias("lag_days"),
            F.col("n").alias("n_days"),
            F.round(
                F.col("cl").cast("double") / F.col("c").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("lag_days")
    )


# --------------------------------------- rolling distinct audience
# window_cumulative_distinct_users answers "users ever, to date"; the
# operational twin every growth dashboard actually plots is the
# N-day ROLLING distinct ("7-day active users per day"), which no
# window frame can express over distinct counts. The scalable form:
# distinct (user, day) once, then each (user, day) contributes to the
# W target days via a bounded explode, and the count-distinct
# re-aggregates per target day — a fixed xW expansion of a
# user-day-grain frame, never a fact self-join.

RWAU_WINDOW = 7


@query(
    "window_rolling_distinct_users",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS dy FROM events
    ),
    days AS (SELECT DISTINCT dy FROM ud),
    contrib AS (
        SELECT d.dy, u.user_id
        FROM days d
        JOIN ud u ON u.dy <= d.dy
                 AND u.dy > d.dy - {RWAU_WINDOW} * INTERVAL 1 DAY
    )
    SELECT strftime(dy, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib GROUP BY dy
    ORDER BY day
    """,
)
def window_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{RWAU_WINDOW}-day rolling distinct active users per day (block
    comment above). The explode sends each (user, day) to its
    {RWAU_WINDOW} covered target days; target days beyond the
    observed range are dropped by the semi-join against real days, so
    the output matches the oracle's range-join form exactly."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("dy")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("dy"),
                F.expr(f"timestampadd(DAY, {RWAU_WINDOW - 1}, dy)"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("target"),
    )
    days = ud.select(F.col("dy").alias("target")).distinct()
    return (
        contrib.join(days, "target", "left_semi")
        .groupBy(F.date_format("target", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
        .orderBy("day")
    )


# --------------------------------------- entropy l-diversity audit
# privacy_k_anonymity (quality.py) reports DISTINCT-l per QI group;
# distinct-l is the weak form — a group can hold 3 distinct sensitive
# values with 98% of rows in one of them and still "pass". Entropy
# l-diversity (Machanavajjhala et al. 2007, the published refinement)
# requires the sensitive DISTRIBUTION to carry at least ln(l) nats.
# Per-group sensitive-band counts are exact; each -p·ln(p) term is
# rounded then summed as DECIMAL so the per-group fold order cannot
# flip the hash (ln's last-ulp is absorbed by round(12) — the
# adamic-adar 1/ln(deg) precedent).

LDIV_L = 3
LDIV_BAND = 2000  # same sensitive banding as the k-anonymity audit


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH cell AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               floor(c_acctbal / {LDIV_BAND}) AS band,
               CAST(count(*) AS BIGINT) AS c
        FROM customer GROUP BY 1, 2, 3
    ),
    withp AS (
        SELECT nationkey, mktsegment, c,
               sum(c) OVER (PARTITION BY nationkey, mktsegment) AS nt
        FROM cell
    ),
    grp AS (
        SELECT nationkey, mktsegment,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_bands,
               CAST(sum(CAST(round(
                   -(c * 1.0 / nt) * ln(c * 1.0 / nt),
                   12) AS DECIMAL(38,12))) AS DOUBLE) AS entropy
        FROM withp GROUP BY 1, 2
    )
    SELECT nationkey, mktsegment, n AS group_size, n_bands,
           round(entropy, 6) AS entropy_nats,
           entropy >= ln({LDIV_L}) AS entropy_l_diverse
    FROM grp
    ORDER BY nationkey, mktsegment
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity audit over the (nationkey, mktsegment)
    quasi-identifier with banded acctbal sensitive values (block
    comment above): a group is entropy-l-diverse iff the entropy of
    its sensitive distribution is >= ln(l).

    100-TB shape: ONE (QI, band)-grain map-combinable count, a
    per-group window for the group total (QI-grain rows), and a
    QI-grain fold — the audit never reshuffles the fact twice."""
    cust = load_table(spark, sf_dir, "customer")
    cell = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / LDIV_BAND).alias("band"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("nationkey", "mktsegment")
    p = F.col("c") * 1.0 / F.sum("c").over(w)
    term = F.round(-p * F.log(p), 12).cast("decimal(38,12)")
    grp = (
        cell.select("nationkey", "mktsegment", "c", term.alias("h"))
        .groupBy("nationkey", "mktsegment")
        .agg(
            F.sum("c").alias("group_size"),
            F.count(F.lit(1)).alias("n_bands"),
            F.sum("h").cast("double").alias("entropy"),
        )
    )
    return grp.select(
        "nationkey",
        "mktsegment",
        "group_size",
        "n_bands",
        F.round(F.col("entropy"), 6).alias("entropy_nats"),
        (F.col("entropy") >= F.log(F.lit(float(LDIV_L)))).alias(
            "entropy_l_diverse"
        ),
    ).orderBy("nationkey", "mktsegment")


# -------------------------------- temperature-scaled mix allocation
# mix_token_allocation (training_prep.py) allocates proportionally
# under caps; multilingual/multi-source LLM training instead samples
# sources with TEMPERATURE-scaled weights w_s ∝ n_s^(1/T) (the mBERT /
# XLM-R exponential-smoothing rule) so small sources are upweighted.
# T = 0.5 makes 1/T = 2 — the weights are EXACT integer squares, and
# the whole largest-remainder apportionment (the deterministic way to
# round quota shares to a fixed budget) runs in integer arithmetic:
# no pow(), no round-on-double, nothing engine-dependent.

MIX_T_BUDGET = 100_000


@query(
    "mix_temperature_sampling",
    oracle=f"""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) AS q
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(q) AS BIGINT) AS qt FROM s),
    base AS (
        SELECT source, n, q,
               CAST(({MIX_T_BUDGET} * q) // (SELECT qt FROM tot) AS BIGINT)
                   AS b,
               CAST(({MIX_T_BUDGET} * q) % (SELECT qt FROM tot) AS BIGINT)
                   AS rem
        FROM s
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY rem DESC, source ASC)
                    AS BIGINT) AS rk,
               CAST(sum(b) OVER () AS BIGINT) AS btot
        FROM base
    )
    SELECT source, n AS n_docs,
           CAST((q * 1000000) // (SELECT qt FROM tot) AS BIGINT)
               AS weight_ppm,
           CAST(b + CASE WHEN rk <= {MIX_T_BUDGET} - btot THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_docs
    FROM ranked
    ORDER BY source
    """,
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (T = 0.5) source mixture for a
    {MIX_T_BUDGET}-document training budget, apportioned by largest
    remainder (block comment above). One source-grain count, then
    K-row integer arithmetic — the allocation is a model-sized
    relation at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    s = s.select("source", "n", (F.col("n") * F.col("n")).alias("q"))
    tot = s.agg(F.sum("q").alias("qt"))
    base = (
        s.crossJoin(F.broadcast(tot))  # one-row scalar broadcast
        .select(
            "source",
            "n",
            "q",
            "qt",
            F.expr(f"({MIX_T_BUDGET} * q) div qt").alias("b"),
            F.expr(f"({MIX_T_BUDGET} * q) % qt").alias("rem"),
        )
    )
    wfull = Window.orderBy(F.desc("rem"), F.asc("source"))
    ranked = base.select(
        "source",
        "n",
        "q",
        "qt",
        "b",
        F.row_number().over(wfull).cast("long").alias("rk"),
        F.sum("b")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("btot"),
    )
    return ranked.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("(q * 1000000) div qt").alias("weight_ppm"),
        (
            F.col("b")
            + F.when(
                F.col("rk") <= F.lit(MIX_T_BUDGET) - F.col("btot"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("alloc_docs"),
    ).orderBy("source")


# ------------------------------------ balanced class downsampling
# The training-prep sampler the registry lacked: equalize class sizes
# by downsampling every class to the minority class's count, with the
# deterministic hash-rank draw (md5 over the key — the
# sample_hash_systematic device) so the same corpus always yields the
# same balanced set, on any cluster, with no RNG state.


@query(
    "sample_balanced_class_downsample",
    oracle="""
    WITH m AS (
        SELECT CAST(min(c) AS BIGINT) AS mn
        FROM (SELECT count(*) AS c FROM documents GROUP BY lang)
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    WHERE rk <= (SELECT mn FROM m)
    ORDER BY lang, rk
    """,
)
def sample_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance the documents corpus across languages: every language
    downsampled to the minority language's count via the
    deterministic md5 hash-rank draw (block comment above).

    100-TB shape: one count aggregate for the floor, one per-class
    rank window (partitioned on lang — each partition sorts only its
    class; for classes too large to sort, the hash-THRESHOLD
    approximation documented at sample_hash_systematic is the
    drop-in), and a broadcast scalar floor."""
    docs = load_table(spark, sf_dir, "documents")
    m = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("mn"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(m))  # one-row scalar broadcast
        .filter(F.col("rk") <= F.col("mn"))
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


# ------------------------------------- simple exponential smoothing
# The forecasting family (seasonal decompose, MASE baseline, ACF) was
# missing the actual SMOOTHER: SES level l_t = α·v_t + (1−α)·l_{t−1}.
# A recurrence cannot be a window frame — but it IS expressible
# JVM-side as a fold over the day-grain series with the higher-order
# aggregate() function (no UDF, no driver loop), and DuckDB replays
# the identical recurrence as a linear recursive CTE. Both engines
# execute the SAME chain of IEEE double ops in the SAME order, so the
# results agree bit-for-bit — the fold/recursive-CTE pair is the
# determinism device here (no rounding needed until output).
#
# 100-TB shape: everything collapses at the day-grain aggregate; the
# fold runs over ONE collected array of ~series-length elements (the
# model-sized relation — for per-key smoothing, partition the collect
# by key and fold per row).

SES_ALPHA = 0.3


# daily_value_series as DuckDB CTEs: `idx(i, dy, v)` numbers the days
# in order, for the recursive folds that follow.
DAILY_SERIES_ORACLE_CTES = """
    WITH RECURSIVE daily AS (
        SELECT date_trunc('day', ts) AS dy,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS v
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT CAST(row_number() OVER (ORDER BY dy) AS BIGINT) AS i,
               dy, CAST(v AS DOUBLE) AS v
        FROM daily
    ),
"""


def daily_value_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row holding ``s``: the day-ordered array of (dy, v) structs,
    v = the day's exact-decimal mean event value as a double — the
    series the smoothing folds (SES here, Holt in breadth8) run over."""
    from .stats import decimal_mean8

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("dy")).agg(
        decimal_mean8("value").alias("vd")
    )
    return daily.agg(
        F.array_sort(
            F.collect_list(F.struct("dy", F.col("vd").cast("double").alias("v")))
        ).alias("s")
    )


@query(
    "ts_exp_smoothing",
    oracle=f"""{DAILY_SERIES_ORACLE_CTES}    rec AS (
        SELECT i, dy, v, v AS level FROM idx WHERE i = 1
        UNION ALL
        SELECT idx.i, idx.dy, idx.v,
               {SES_ALPHA} * idx.v + (1 - {SES_ALPHA}) * rec.level
        FROM idx JOIN rec ON idx.i = rec.i + 1
    )
    SELECT strftime(dy, '%Y-%m-%d') AS day,
           round(v, 6) AS daily_value,
           round(level, 6) AS ses_level
    FROM rec
    ORDER BY day
    """,
)
def ts_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (alpha = {SES_ALPHA}) of the daily
    mean event value, with the smoothed level per day (block comment
    above). The recurrence folds over ONE ordered array via
    aggregate(): acc holds (level, array-of-levels-so-far) so every
    intermediate level is emitted, then posexplode rejoins levels to
    their days."""
    series = daily_value_series(spark, sf_dir)
    # fold: acc = array of levels so far; next level from acc's last
    folded = series.select(
        "s",
        F.expr(
            f"""aggregate(
                s,
                CAST(array() AS ARRAY<DOUBLE>),
                (acc, x) -> CASE WHEN size(acc) = 0 THEN array(x.v)
                    ELSE array_append(
                        acc,
                        {SES_ALPHA}D * x.v
                        + (1.0D - {SES_ALPHA}D) * element_at(acc, -1))
                END
            )"""
        ).alias("levels"),
    )
    return (
        folded.select(
            F.posexplode(
                F.expr("zip_with(s, levels, (a, l) -> struct(a.dy, a.v, l))")
            ).alias("i", "z")
        )
        .select(
            F.date_format("z.dy", "yyyy-MM-dd").alias("day"),
            F.round(F.col("z.v"), 6).alias("daily_value"),
            F.round(F.col("z.l"), 6).alias("ses_level"),
        )
        .orderBy("day")
    )


# ------------------------------------------ DAU/MAU stickiness
# The rolling-distinct device above, applied to the growth metric
# every consumer product reports: stickiness(d) = DAU(d) / MAU(d)
# (28-day rolling distinct). Both windows come from ONE user-day
# frame with two bounded explodes; the ratio is integer floor
# arithmetic (counts divide counts — the round-boundary rule).

MAU_WINDOW = 28


@query(
    "window_dau_mau_stickiness",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS dy FROM events
    ),
    days AS (SELECT DISTINCT dy FROM ud),
    dau AS (
        SELECT dy, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM ud
        GROUP BY 1
    ),
    mau AS (
        SELECT d.dy, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
        FROM days d
        JOIN ud u ON u.dy <= d.dy
                 AND u.dy > d.dy - {MAU_WINDOW} * INTERVAL 1 DAY
        GROUP BY 1
    )
    SELECT strftime(dau.dy, '%Y-%m-%d') AS day, dau.dau, mau.mau,
           CAST((dau.dau * 1000000) // mau.mau AS DOUBLE) / 1000000
               AS stickiness
    FROM dau JOIN mau ON mau.dy = dau.dy
    ORDER BY day
    """,
)
def window_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stickiness = DAU / {MAU_WINDOW}-day rolling MAU (block
    comment above)."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("dy")
    ).distinct()
    ud = ud.localCheckpoint(eager=False)  # dau + mau-contrib + days
    dau = ud.groupBy("dy").agg(F.countDistinct("user_id").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("dy"),
                F.expr(f"timestampadd(DAY, {MAU_WINDOW - 1}, dy)"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("target"),
    )
    days = ud.select(F.col("dy").alias("target")).distinct()
    mau = (
        contrib.join(days, "target", "left_semi")
        .groupBy("target")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau.dy == mau.target)
        .select(
            F.date_format("dy", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            (F.expr("(dau * 1000000L) div mau").cast("double") / 1e6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# ------------------------------------- LSH S-curve planning table
# The MinHash family (dedup.py) ships fixed (bands, rows) constants;
# the operator a practitioner actually reaches for FIRST is the
# S-curve planner: for each candidate (b, r) config and similarity s,
# P(candidate) = 1 − (1 − s^r)^b — the table that turns "we want
# near-dups above 0.8 and almost nothing below 0.5" into a (b, r)
# choice (Mining of Massive Datasets §3.4, public). Model-sized
# output; the powers are LEFT FOLDS of plain multiplications
# (Spark aggregate() / DuckDB list_reduce), so both engines run the
# identical IEEE op chain — bit-equal without any rounding tricks
# (same device as ts_exp_smoothing's recurrence).

SCURVE_CONFIGS = ((4, 16), (8, 8), (8, 4), (16, 4), (32, 2))
SCURVE_STEPS = 19  # s = k/20 for k = 1..19


@query(
    "dedup_lsh_scurve_planner",
    oracle=f"""
    WITH cfg AS (
        SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in SCURVE_CONFIGS)})
            AS t(b, r)
    ),
    s AS (
        SELECT CAST(k AS DOUBLE) / 20 AS s
        FROM (SELECT unnest(generate_series(1, {SCURVE_STEPS})) AS k)
    ),
    p AS (
        SELECT b, r, s,
               list_reduce(
                   list_prepend(CAST(1.0 AS DOUBLE),
                                list_transform(range(1, r + 1),
                                               x -> s)),
                   (a, x) -> a * x) AS s_pow_r
        FROM cfg CROSS JOIN s
    ),
    q AS (
        SELECT b, r, s, s_pow_r,
               list_reduce(
                   list_prepend(CAST(1.0 AS DOUBLE),
                                list_transform(range(1, b + 1),
                                               x -> 1 - s_pow_r)),
                   (a, x) -> a * x) AS miss_all
        FROM p
    )
    SELECT CAST(b AS INT) AS bands, CAST(r AS INT) AS rows_per_band,
           round(s, 6) AS jaccard_s,
           round(1 - miss_all, 6) AS p_candidate
    FROM q
    ORDER BY bands, rows_per_band, jaccard_s
    """,
)
def dedup_lsh_scurve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-curve table for candidate MinHash-LSH (bands, rows) configs
    (block comment above). Pure model-sized computation — the corpus
    is not read; at any scale this is the planning step BEFORE the
    banding job, and the fold device keeps it engine-exact."""
    cfg = spark.createDataFrame(
        [(b, r) for b, r in SCURVE_CONFIGS], "b INT, r INT"
    )
    s = spark.range(1, SCURVE_STEPS + 1).select(
        (F.col("id").cast("double") / 20).alias("s")
    )
    # tiny cross of two model-sized frames (5 x 19 rows)
    p = cfg.crossJoin(s).withColumn(
        "s_pow_r",
        F.expr(
            "aggregate(transform(sequence(1, r), x -> s), 1.0D, (a, x) -> a * x)"
        ),
    )
    q = p.withColumn(
        "miss_all",
        F.expr(
            "aggregate(transform(sequence(1, b), x -> 1 - s_pow_r), 1.0D,"
            " (a, x) -> a * x)"
        ),
    )
    return q.select(
        F.col("b").alias("bands"),
        F.col("r").alias("rows_per_band"),
        F.round("s", 6).alias("jaccard_s"),
        F.round(F.lit(1.0) - F.col("miss_all"), 6).alias("p_candidate"),
    ).orderBy("bands", "rows_per_band", "jaccard_s")


# ----------------------------------------- value-tier migration
# rfm_customer_segments buckets customers ONCE; the marketing
# question a quarter later is the MIGRATION: how many customers moved
# between spend tiers from one period to the next (incl. churned-out
# and newly-acquired)? Split the order history at its midpoint date,
# quartile-tier each period's spend with that period's own broadcast
# cuts (the RFM device), and cross-tabulate.


@query(
    "analytics_tier_migration",
    oracle="""
    WITH span AS (
        SELECT min(o_orderdate) AS mn,
               date_add(min(o_orderdate), INTERVAL (
                   date_diff('day', min(o_orderdate), max(o_orderdate)) // 2
               ) DAY) AS mid
        FROM orders
    ),
    p1 AS (
        SELECT o_custkey AS custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM orders WHERE o_orderdate <= (SELECT mid FROM span)
        GROUP BY 1
    ),
    p2 AS (
        SELECT o_custkey AS custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM orders WHERE o_orderdate > (SELECT mid FROM span)
        GROUP BY 1
    ),
    c1 AS (
        SELECT round(quantile_cont(v, 0.25), 6) AS q1,
               round(quantile_cont(v, 0.50), 6) AS q2,
               round(quantile_cont(v, 0.75), 6) AS q3
        FROM p1
    ),
    c2 AS (
        SELECT round(quantile_cont(v, 0.25), 6) AS q1,
               round(quantile_cont(v, 0.50), 6) AS q2,
               round(quantile_cont(v, 0.75), 6) AS q3
        FROM p2
    ),
    t1 AS (
        SELECT custkey,
               CASE WHEN v <= q1 THEN 1 WHEN v <= q2 THEN 2
                    WHEN v <= q3 THEN 3 ELSE 4 END AS tier
        FROM p1 CROSS JOIN c1
    ),
    t2 AS (
        SELECT custkey,
               CASE WHEN v <= q1 THEN 1 WHEN v <= q2 THEN 2
                    WHEN v <= q3 THEN 3 ELSE 4 END AS tier
        FROM p2 CROSS JOIN c2
    )
    SELECT CAST(coalesce(t1.tier, 0) AS INT) AS tier_p1,
           CAST(coalesce(t2.tier, 0) AS INT) AS tier_p2,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM t1 FULL OUTER JOIN t2 ON t1.custkey = t2.custkey
    GROUP BY 1, 2
    ORDER BY tier_p1, tier_p2
    """,
)
def analytics_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-tier migration matrix between the two halves of the
    order history (block comment above); tier 0 = absent in that
    period (churned / newly acquired).

    100-TB shape: two customer-grain conditional aggregates over one
    fact scan, two broadcast cut rows (exact percentiles at the
    customer grain; approx_percentile is the drop-in past that), a
    custkey full outer join, and a 25-cell reduce."""
    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    ).select(
        F.expr("date_add(mn, CAST(datediff(mx, mn) / 2 AS INT))").alias("mid")
    )
    base = o.crossJoin(F.broadcast(span))  # one-row scalar broadcast

    def period(cond) -> DataFrame:
        return (
            base.filter(cond)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("v")
            )
            # lineage cut: each period frame feeds BOTH its cuts
            # aggregate and the bucketing pass — without it the span
            # scalar-broadcast re-expands per consumer (3 BNLJ nodes
            # per period against the documented 2-per-query lint cap)
            .localCheckpoint(eager=False)
        )

    def tiers(p: DataFrame) -> DataFrame:
        cuts = F.broadcast(
            p.agg(
                *[
                    F.round(F.expr(f"percentile(v, {q})"), 6).alias(f"q{i}")
                    for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
                ]
            )
        )
        return p.crossJoin(cuts).select(  # one-row scalar broadcast
            "custkey",
            F.when(F.col("v") <= F.col("q1"), 1)
            .when(F.col("v") <= F.col("q2"), 2)
            .when(F.col("v") <= F.col("q3"), 3)
            .otherwise(4)
            .alias("tier"),
        )

    t1 = tiers(period(F.col("o_orderdate") <= F.col("mid"))).withColumnRenamed(
        "tier", "tier1"
    )
    t2 = tiers(period(F.col("o_orderdate") > F.col("mid"))).withColumnRenamed(
        "tier", "tier2"
    )
    return (
        t1.join(t2, "custkey", "full_outer")
        .groupBy(
            F.coalesce(F.col("tier1"), F.lit(0)).cast("int").alias("tier_p1"),
            F.coalesce(F.col("tier2"), F.lit(0)).cast("int").alias("tier_p2"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("tier_p1", "tier_p2")
    )


# --------------------------------------- activity-streak detection
# The gaps-and-islands operator (longest consecutive-active-day run
# per user) — engagement scoring, "7-day streak" product mechanics,
# and the canonical example of turning a sequence property into a
# group key: day_index − row_number is constant exactly within a
# consecutive run. All integers; top-k by (streak, earliest start,
# user) is total-ordered.

STREAK_TOP = 25


@query(
    "window_streak_active_days",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS dy FROM events
    ),
    runs AS (
        SELECT user_id, dy,
               date_diff('day', DATE '1970-01-01', dy)
               - row_number() OVER (PARTITION BY user_id ORDER BY dy) AS grp
        FROM ud
    ),
    streaks AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS len,
               min(dy) AS streak_start
        FROM runs GROUP BY user_id, grp
    ),
    best AS (
        SELECT user_id, len, streak_start,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY len DESC, streak_start ASC) AS rk
        FROM streaks
    )
    SELECT user_id, len AS longest_streak_days,
           strftime(streak_start, '%Y-%m-%d') AS streak_start
    FROM best WHERE rk = 1
    ORDER BY longest_streak_days DESC, streak_start ASC, user_id ASC
    LIMIT {STREAK_TOP}
    """,
)
def window_streak_active_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top users by longest consecutive-active-day streak (block
    comment above). One user-day distinct, two user-partitioned
    windows (each partition holds one user's days), and a
    TakeOrderedAndProject top-k — nothing global-sorts the fact."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("dy")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dy")
    runs = ud.select(
        "user_id",
        "dy",
        (
            F.datediff(F.col("dy"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("dy").alias("streak_start")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    best = streaks.withColumn("rk", F.row_number().over(wb)).filter(
        F.col("rk") == 1
    )
    return (
        best.select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            F.date_format("streak_start", "yyyy-MM-dd").alias("streak_start"),
        )
        .orderBy(
            F.desc("longest_streak_days"), F.asc("streak_start"), F.asc("user_id")
        )
        .limit(STREAK_TOP)
    )


# ------------------------------------------------- Cramér's V
# stats_chi2_independence reports per-cell terms; Cramér's V is the
# EFFECT SIZE the analyst actually compares across tables — chi²
# normalized to [0, 1] by n·min(r−1, c−1). Measured on a different
# categorical pair (order priority x order status) so the two queries
# jointly cover both association questions. Per-cell terms are
# rounded then DECIMAL-summed (cell order cannot flip the hash); the
# final sqrt/division runs once on exact inputs.


@query(
    "stats_cramers_v",
    oracle="""
    WITH cell AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               CAST(count(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT pri, st, o,
               sum(o) OVER (PARTITION BY pri) AS rn,
               sum(o) OVER (PARTITION BY st) AS cn,
               sum(o) OVER () AS n
        FROM cell
    ),
    agg AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(count(DISTINCT pri) AS BIGINT) AS r,
               CAST(count(DISTINCT st) AS BIGINT) AS c,
               CAST(sum(CAST(round(
                   pow(o - rn * 1.0 * cn / n, 2) / (rn * 1.0 * cn / n), 8)
                   AS DECIMAL(38,8))) AS DOUBLE) AS chi2
        FROM m
    )
    SELECT n AS n_rows, r AS n_priorities, c AS n_statuses,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
    FROM agg
    """,
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between order priority and
    order status (block comment above)."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).alias("o"))
    m = cell.select(
        "pri",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pri")).alias("rn"),
        F.sum("o").over(Window.partitionBy("st")).alias("cn"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rn") * 1.0 * F.col("cn") / F.col("n")
    agg = m.agg(
        F.max("n").alias("n"),
        F.countDistinct("pri").alias("r"),
        F.countDistinct("st").alias("c"),
        F.sum(
            F.round(F.pow(F.col("o") - e, 2) / e, 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("chi2"),
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("n_priorities"),
        F.col("c").alias("n_statuses"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------- WOE / information value
# The credit-scoring feature evaluator (weight of evidence +
# information value): how well do order-value deciles separate urgent
# from non-urgent orders? Bins come from the broadcast-cuts device
# (RFM's); WOE = ln(pos_share/neg_share) per bin; IV = Σ (ps−ns)·WOE.
# Counts are exact; each bin's shares divide identical integers; the
# 10-term IV fold goes round-then-DECIMAL through a window.

WOE_BINS = 10


def urgent_value_rows(spark: SparkSession, sf_dir: str, *carry: Column) -> DataFrame:
    """``(v, y, *carry)`` per order: the order value as a double and
    the urgent-priority label (1 for 1-URGENT or 2-HIGH, else 0)."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
        *carry,
    )


@query(
    "analytics_woe_iv",
    oracle=f"""
    WITH base AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    cuts AS (
        SELECT {", ".join(
            f"round(quantile_cont(v, {k / WOE_BINS}), 6) AS c{k}"
            for k in range(1, WOE_BINS)
        )}
        FROM base
    ),
    binned AS (
        SELECT y,
               CASE {" ".join(
                   f"WHEN v <= c{k} THEN {k}" for k in range(1, WOE_BINS)
               )} ELSE {WOE_BINS} END AS bin
        FROM base CROSS JOIN cuts
    ),
    b AS (
        SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        FROM binned GROUP BY 1
    ),
    t AS (
        SELECT bin, n_pos, n_neg,
               sum(n_pos) OVER () AS tp, sum(n_neg) OVER () AS tn
        FROM b
    ),
    w AS (
        SELECT bin, n_pos, n_neg,
               round(ln((n_pos * 1.0 / tp) / (n_neg * 1.0 / tn)), 6) AS woe,
               CAST(round((n_pos * 1.0 / tp - n_neg * 1.0 / tn)
                          * ln((n_pos * 1.0 / tp) / (n_neg * 1.0 / tn)), 8)
                    AS DECIMAL(38,8)) AS ivt
        FROM t
    )
    SELECT CAST(bin AS INT) AS bin, n_pos, n_neg, woe,
           round(CAST(ivt AS DOUBLE), 6) AS iv_term,
           round(CAST(sum(ivt) OVER () AS DOUBLE), 6) AS iv_total
    FROM w
    ORDER BY bin
    """,
)
def analytics_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence and information value of order-value deciles
    against the urgent-priority label (block comment above).

    100-TB shape: one pass for the cuts (exact percentiles at this
    scale; approx_percentile past it), one binning pass with the
    broadcast cut row, a {WOE_BINS}-row aggregate, and window folds on
    those {WOE_BINS} rows."""
    base = urgent_value_rows(spark, sf_dir)
    base = base.localCheckpoint(eager=False)  # cuts + binning share it
    cuts = F.broadcast(
        base.agg(
            *[
                F.round(F.expr(f"percentile(v, {k / WOE_BINS})"), 6).alias(
                    f"c{k}"
                )
                for k in range(1, WOE_BINS)
            ]
        )
    )
    bin_col = F.when(F.col("v") <= F.col("c1"), 1)
    for k in range(2, WOE_BINS):
        bin_col = bin_col.when(F.col("v") <= F.col(f"c{k}"), k)
    bin_col = bin_col.otherwise(WOE_BINS)
    b = (
        base.crossJoin(cuts)  # one-row scalar broadcast
        .select("y", bin_col.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum("y").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
        )
    )
    wall = Window.partitionBy()
    t = b.select(
        "bin",
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(wall).alias("tp"),
        F.sum("n_neg").over(wall).alias("tn"),
    )
    ps = F.col("n_pos") * 1.0 / F.col("tp")
    ns = F.col("n_neg") * 1.0 / F.col("tn")
    w = t.select(
        "bin",
        "n_pos",
        "n_neg",
        F.round(F.log(ps / ns), 6).alias("woe"),
        F.round((ps - ns) * F.log(ps / ns), 8)
        .cast("decimal(38,8)")
        .alias("ivt"),
    )
    return w.select(
        F.col("bin").cast("int").alias("bin"),
        "n_pos",
        "n_neg",
        "woe",
        F.round(F.col("ivt").cast("double"), 6).alias("iv_term"),
        F.round(F.sum("ivt").over(wall).cast("double"), 6).alias("iv_total"),
    ).orderBy("bin")


# --------------------------------------------- audience overlap
# The audience-analysis primitive: for every pair of event types, how
# many distinct users do both (intersection, Jaccard)? One distinct
# (user, type) frame; the pair space is the user-keyed self-join —
# co-partitioned on user_id, bounded by |types|² per user. Ratios in
# integer div arithmetic (the round-boundary rule).


@query(
    "analytics_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, ta.n AS n_a, tb.n AS n_b, i.n_both,
           CAST((i.n_both * 1000000) // (ta.n + tb.n - i.n_both)
                AS DOUBLE) / 1000000 AS jaccard
    FROM inter i
    JOIN tot ta ON ta.event_type = i.type_a
    JOIN tot tb ON tb.event_type = i.type_b
    ORDER BY i.type_a, i.type_b
    """,
)
def analytics_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience intersection + Jaccard across event types
    (block comment above)."""
    events = load_table(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    ut = ut.localCheckpoint(eager=False)  # totals + both pair sides
    tot = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tot.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.expr("(n_both * 1000000L) div (n_a + n_b - n_both)").cast(
                    "double"
                )
                / 1e6
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------- decision stump (Gini)
# The simplest trainable classifier the ML family lacked: a one-split
# decision stump on order value against the urgent label, trained by
# exhaustive Gini search over the decile cut candidates (the WOE
# query's broadcast cuts, reused as the candidate grid — the standard
# histogram-split approximation every distributed GBDT uses). Each
# candidate's impurity derives from 4 exact integers; the weighted
# Gini is the identical double expression on both engines, so ranking
# candidates is deterministic without any rounding fence.


STUMP_CUTS = 9  # decile cut candidates, k = 1..9

# The weighted Gini of a split from its four exact counts (lp, ln:
# left positives/negatives; rp, rn: right), as a DuckDB column; also
# scored by breadth8's ml_cross_validation_stump.
SPLIT_GINI_SQL = """round(
                   (1.0 - (lp * 1.0 / (lp + ln)) * (lp * 1.0 / (lp + ln))
                        - (ln * 1.0 / (lp + ln)) * (ln * 1.0 / (lp + ln)))
                   * (lp + ln) / (lp + ln + rp + rn)
                 + (1.0 - (rp * 1.0 / (rp + rn)) * (rp * 1.0 / (rp + rn))
                        - (rn * 1.0 / (rp + rn)) * (rn * 1.0 / (rp + rn)))
                   * (rp + rn) / (lp + ln + rp + rn), 9) AS gini"""


def split_gini() -> Column:
    """Weighted Gini of the split in columns lp, ln, rp, rn, rounded
    to 9 places (SPLIT_GINI_SQL's Spark twin)."""
    lt = F.col("lp") + F.col("ln")
    rt = F.col("rp") + F.col("rn")
    n = lt + rt
    gl = (
        F.lit(1.0)
        - (F.col("lp") * 1.0 / lt) * (F.col("lp") * 1.0 / lt)
        - (F.col("ln") * 1.0 / lt) * (F.col("ln") * 1.0 / lt)
    )
    gr = (
        F.lit(1.0)
        - (F.col("rp") * 1.0 / rt) * (F.col("rp") * 1.0 / rt)
        - (F.col("rn") * 1.0 / rt) * (F.col("rn") * 1.0 / rt)
    )
    return F.round(gl * lt / n + gr * rt / n, 9)


def split_counts(base: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, k, cut, lp, ln, rp, rn)``: for each of the STUMP_CUTS
    decile cuts of ``v`` over all of ``base``, the positive and
    negative ``y`` counts left (v <= cut) and right of it, per ``keys``
    group. The cuts are one broadcast row; one pass emits (k, side, y)
    for every cut via a STUMP_CUTS-element explode, so the fact scan
    stays single where the oracles cross-join the cut list."""
    cuts = F.broadcast(
        base.agg(
            *[
                F.round(F.expr(f"percentile(v, {k / 10.0})"), 6).alias(f"c{k}")
                for k in range(1, STUMP_CUTS + 1)
            ]
        )
    )
    exploded = base.crossJoin(cuts).select(  # one-row scalar broadcast
        *keys,
        "v",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), F.col(f"c{k}").alias("cut"))
                    for k in range(1, STUMP_CUTS + 1)
                ]
            )
        ).alias("c"),
    )
    return exploded.select(*keys, "v", "y", "c.k", "c.cut").groupBy(
        *keys, "k", "cut"
    ).agg(
        F.sum(F.when(F.col("v") <= F.col("cut"), F.col("y")).otherwise(0)).alias("lp"),
        F.sum(F.when(F.col("v") <= F.col("cut"), 1 - F.col("y")).otherwise(0)).alias("ln"),
        F.sum(F.when(F.col("v") > F.col("cut"), F.col("y")).otherwise(0)).alias("rp"),
        F.sum(F.when(F.col("v") > F.col("cut"), 1 - F.col("y")).otherwise(0)).alias("rn"),
    )


@query(
    "ml_decision_stump_gini",
    oracle=f"""
    WITH base AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    cuts AS (
        SELECT unnest([{", ".join(str(k) for k in range(1, STUMP_CUTS + 1))}]) AS k,
               unnest([{", ".join(
                   f"round(quantile_cont(v, {k / 10.0}), 6)"
                   for k in range(1, STUMP_CUTS + 1)
               )}]) AS cut
        FROM base
    ),
    split AS (
        SELECT c.k, c.cut,
               CAST(sum(CASE WHEN v <= cut THEN y ELSE 0 END) AS BIGINT) AS lp,
               CAST(sum(CASE WHEN v <= cut THEN 1 - y ELSE 0 END) AS BIGINT) AS ln,
               CAST(sum(CASE WHEN v > cut THEN y ELSE 0 END) AS BIGINT) AS rp,
               CAST(sum(CASE WHEN v > cut THEN 1 - y ELSE 0 END) AS BIGINT) AS rn
        FROM base CROSS JOIN cuts c
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT k, cut, lp, ln, rp, rn,
               {SPLIT_GINI_SQL}
        FROM split
    )
    SELECT CAST(k AS INT) AS cut_idx, cut AS cut_value,
           lp AS n_left_pos, ln AS n_left_neg,
           rp AS n_right_pos, rn AS n_right_neg,
           gini,
           CAST(row_number() OVER (ORDER BY gini, k) = 1 AS BOOLEAN)
               AS chosen
    FROM scored
    ORDER BY cut_idx
    """,
)
def ml_decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stump on order value vs the urgent label: every decile
    candidate's split counts + weighted Gini, with the chosen split
    flagged (block comment above). 100-TB shape: candidate evaluation
    is ONE conditional-sum aggregate per cut over a single fact scan
    (9 cuts x 4 sums — the histogram trick); nothing iterates."""
    base = urgent_value_rows(spark, sf_dir)
    split = split_counts(base.localCheckpoint(eager=False))  # cuts + counts share it
    scored = split.select(
        "k",
        "cut",
        "lp",
        "ln",
        "rp",
        "rn",
        split_gini().alias("gini"),
    )
    w = Window.orderBy("gini", "k")
    return scored.select(
        F.col("k").cast("int").alias("cut_idx"),
        F.col("cut").alias("cut_value"),
        F.col("lp").alias("n_left_pos"),
        F.col("ln").alias("n_left_neg"),
        F.col("rp").alias("n_right_pos"),
        F.col("rn").alias("n_right_neg"),
        "gini",
        (F.row_number().over(w) == 1).alias("chosen"),
    ).orderBy("cut_idx")


# ----------------------------------------- fulfillment latency trend
# The ops dashboard metric: order-to-ship latency percentiles by
# order month. One fact join co-partitioned on the order key, one
# month-grain aggregate with exact percentiles over integer day lags
# (Spark percentile == DuckDB quantile_cont on exact integers — the
# funnel_conversion_lag device at a coarser grain).


@query(
    "ops_ship_latency_trend",
    oracle="""
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                               0.5), 6) AS lat_p50_days,
           round(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                               0.9), 6) AS lat_p90_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY month
    """,
)
def ops_ship_latency_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency p50/p90 per order month (block comment
    above)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.expr("percentile(datediff(l_shipdate, o_orderdate), 0.5)"), 6
            ).alias("lat_p50_days"),
            F.round(
                F.expr("percentile(datediff(l_shipdate, o_orderdate), 0.9)"), 6
            ).alias("lat_p90_days"),
        )
        .orderBy("month")
    )


# --------------------------------------------- data freshness audit
# The missing DQ member: is each event stream CURRENT, and does it
# have silent gaps? Per event type: last event time, staleness days
# vs the global high-water mark, observed active days vs the type's
# own calendar span (missing days = cadence violations). All exact
# integers off one (type, day) distinct.


@query(
    "dq_freshness_audit",
    oracle="""
    WITH td AS (
        SELECT DISTINCT event_type, date_trunc('day', ts) AS dy FROM events
    ),
    g AS (SELECT max(dy) AS hwm FROM td),
    per AS (
        SELECT event_type,
               min(dy) AS first_day, max(dy) AS last_day,
               CAST(count(*) AS BIGINT) AS active_days
        FROM td GROUP BY 1
    )
    SELECT event_type,
           strftime(last_day, '%Y-%m-%d') AS last_day,
           CAST(date_diff('day', last_day, (SELECT hwm FROM g)) AS BIGINT)
               AS staleness_days,
           active_days,
           CAST(date_diff('day', first_day, last_day) + 1 - active_days
                AS BIGINT) AS missing_days
    FROM per
    ORDER BY event_type
    """,
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness + gap audit (block comment above)."""
    events = load_table(spark, sf_dir, "events")
    td = events.select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("dy")
    ).distinct()
    td = td.localCheckpoint(eager=False)  # hwm + per-type share it
    g = td.agg(F.max("dy").alias("hwm"))
    per = td.groupBy("event_type").agg(
        F.min("dy").alias("first_day"),
        F.max("dy").alias("last_day"),
        F.count(F.lit(1)).alias("active_days"),
    )
    return (
        per.crossJoin(F.broadcast(g))  # one-row scalar broadcast
        .select(
            "event_type",
            F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
            F.datediff(F.col("hwm"), F.col("last_day"))
            .cast("long")
            .alias("staleness_days"),
            "active_days",
            (
                F.datediff(F.col("last_day"), F.col("first_day"))
                + 1
                - F.col("active_days")
            )
            .cast("long")
            .alias("missing_days"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- QQ decile table
# The distribution-comparison diagnostic between two segments:
# decile-by-decile quantiles of order value for urgent vs non-urgent
# orders, with the ratio — what an analyst plots as a QQ chart to see
# WHERE two distributions diverge (the KS statistic says only THAT
# they do). Exact percentiles per group; ratios on round(6)-fenced
# cuts divide identical doubles.


@query(
    "stats_qq_deciles",
    oracle=f"""
    WITH base AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    q AS (
        SELECT unnest([{", ".join(str(k) for k in range(1, 10))}]) AS decile,
               unnest([{", ".join(
                   f"round(quantile_cont(v, {k / 10.0})"
                   f" FILTER (WHERE y = 1), 6)" for k in range(1, 10)
               )}]) AS q_urgent,
               unnest([{", ".join(
                   f"round(quantile_cont(v, {k / 10.0})"
                   f" FILTER (WHERE y = 0), 6)" for k in range(1, 10)
               )}]) AS q_other
        FROM base
    )
    SELECT CAST(decile AS INT) AS decile, q_urgent, q_other,
           round(q_urgent / q_other, 6) AS qq_ratio
    FROM q
    ORDER BY decile
    """,
)
def stats_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-vs-other order-value QQ decile table (block comment
    above)."""
    base = urgent_value_rows(spark, sf_dir)
    agg = base.agg(
        *[
            F.round(
                F.expr(f"percentile(CASE WHEN y = 1 THEN v END, {k / 10.0})"), 6
            ).alias(f"u{k}")
            for k in range(1, 10)
        ],
        *[
            F.round(
                F.expr(f"percentile(CASE WHEN y = 0 THEN v END, {k / 10.0})"), 6
            ).alias(f"o{k}")
            for k in range(1, 10)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).alias("decile"),
                F.col(f"u{k}").alias("q_urgent"),
                F.col(f"o{k}").alias("q_other"),
            )
            for k in range(1, 10)
        ]
    )
    return (
        agg.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.decile").cast("int").alias("decile"),
            F.col("p.q_urgent").alias("q_urgent"),
            F.col("p.q_other").alias("q_other"),
            F.round(F.col("p.q_urgent") / F.col("p.q_other"), 6).alias(
                "qq_ratio"
            ),
        )
        .orderBy("decile")
    )
