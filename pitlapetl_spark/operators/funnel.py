"""Ordered-sequence (funnel) analytics over the events stream.

The classic product-analytics question — how far does each user get
through view -> click -> purchase, with each stage required to happen
STRICTLY AFTER the previous one — is naturally a per-user sequence
scan. The naive relational form is three aggregate+join rounds (the
oracle below), i.e. three shuffles of the fact table on user_id. The
Spark-first form here pays ONE shuffle: collect each user's events
into a time-sorted array, then resolve every stage with higher-order
array expressions (filter / transform / array_min) — all JVM-side
codegen, no Python.

Scale notes: per-user state is the user's own event array, so the
operator is safe wherever per-user event counts are bounded (sessions,
days, retention windows — the usual analytics grain; an unbounded
power-user tail wants a pre-aggregation to (user, day) first, same as
any collect_list). The groupBy key is user_id — uniform, no skew
special-casing needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table


def _first_after(ev: Column, stage: str, after: Column | None) -> Column:
    """Earliest event of ``stage`` strictly after ``after`` (or the
    earliest overall when ``after`` is None). NULL ``after`` propagates
    to NULL — a stage can only fire once every prior stage has."""

    def keep(e: Column) -> Column:
        cond = e.getField("event_type") == stage
        if after is not None:
            cond = cond & (e.getField("ts") > after)
        return cond

    return F.array_min(F.transform(F.filter(ev, keep), lambda e: e.getField("ts")))


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS funnel_depth
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel resolution in one shuffle: earliest view, then
    earliest click after it, then earliest purchase after that, and
    the depth reached. Users with no view are outside the funnel. The
    oracle computes the same stages with three aggregate+join rounds —
    hash equality shows the single-pass array form is semantically
    identical to the relational form."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("ev"))
    )
    t_view = _first_after(F.col("ev"), "view", None)
    out = ev.withColumn("t_view", t_view)
    out = out.withColumn("t_click", _first_after(F.col("ev"), "click", F.col("t_view")))
    out = out.withColumn(
        "t_purchase", _first_after(F.col("ev"), "purchase", F.col("t_click"))
    )
    return (
        out.filter(F.col("t_view").isNotNull())
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("funnel_depth"),
        )
    )


@query(
    "cohort_retention_matrix",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY 1
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_day, a.d) AS INT) AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity day, counted
    on each subsequent day they return — the (cohort_day, day_offset)
    matrix behind every retention curve. Three aggregations, all
    keyed on user_id or the small (cohort, offset) grain: the
    (user, day) distinct and the first-day aggregate shuffle on the
    SAME user_id key (one exchange layout, AQE-coalesced), the join is
    co-partitioned on it, and only the final tiny matrix aggregate
    re-keys. No window functions, no self-join of the raw fact."""
    events = load_table(spark, sf_dir, "events")
    # ONE events scan: the first-day frame derives from the cut
    # distinct (user, day) frame (min over distinct days == min over
    # all events at day grain) — the window_hll_sliding_distinct
    # device; uncut, firsts re-scanned + re-aggregated the fact
    active = (
        events.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    firsts = active.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        active.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# ------------------------------------------------- touch attribution

ATTRIB_WINDOW_DAYS = 7
_TOUCH_TYPES = ("view", "click")


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, event_type, event_id, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_ts,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_type
        FROM events
    )
    SELECT user_id,
           event_id AS purchase_id,
           ts AS purchase_ts,
           round(value, 6) AS purchase_value,
           CASE WHEN touch_ts IS NOT NULL
                 AND ts - touch_ts <= INTERVAL {ATTRIB_WINDOW_DAYS} DAY
                THEN touch_type END AS attributed_to,
           CASE WHEN touch_ts IS NOT NULL
                 AND ts - touch_ts <= INTERVAL {ATTRIB_WINDOW_DAYS} DAY
                THEN touch_ts END AS touch_ts
    FROM marked
    WHERE event_type = 'purchase'
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent preceding view/click within the attribution window, NULL if
    the trail is cold. One window per user carrying the last non-null
    touch forward (``F.last(ignorenulls=True)`` — the LOCF idiom of
    window_forward_fill applied to event attribution); the lookback
    cap is a post-window comparison, not a range self-join, so the
    plan is one key shuffle regardless of window length. A caveat the
    naive two-table as-of formulation misses: the preceding-rows frame
    means a purchase at the exact ts of a touch (tie) does NOT credit
    itself — tiebreak is by (ts, event_id), identical on both engines."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ts = F.last(
        F.when(F.col("event_type").isin(*_TOUCH_TYPES), F.col("ts")),
        ignorenulls=True,
    ).over(w)
    touch_type = F.last(
        F.when(F.col("event_type").isin(*_TOUCH_TYPES), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    # microsecond-exact window cap: a seconds-truncating cast would
    # admit purchases up to 1s past the cap that the oracle's interval
    # comparison (exact micros) excludes
    in_window = touch_ts.isNotNull() & (
        F.unix_micros(F.col("ts")) - F.unix_micros(touch_ts)
        <= ATTRIB_WINDOW_DAYS * 86400 * 1_000_000
    )
    return (
        events.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            "value",
            touch_ts.alias("_touch_ts"),
            touch_type.alias("_touch_type"),
            in_window.alias("_in_win"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 6).alias("purchase_value"),
            F.when(F.col("_in_win"), F.col("_touch_type")).alias("attributed_to"),
            F.when(F.col("_in_win"), F.col("_touch_ts")).alias("touch_ts"),
        )
    )


@query(
    "funnel_conversion_lag",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
        SELECT v.user_id,
               min(epoch_us(e.ts) - epoch_us(v.t_view)) AS lag_us
        FROM v JOIN events e ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewers,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(count(*) * 1.0 / (SELECT count(*) FROM v), 6)
               AS conversion_rate,
           round(quantile_cont(lag_us / 1e6, 0.25), 6) AS lag_p25_s,
           round(quantile_cont(lag_us / 1e6, 0.5), 6) AS lag_p50_s,
           round(quantile_cont(lag_us / 1e6, 0.75), 6) AS lag_p75_s,
           round(quantile_cont(lag_us / 1e6, 0.9), 6) AS lag_p90_s
    FROM p
    """,
)
def funnel_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user, the lag from
    FIRST view to the FIRST purchase strictly after it, summarized as
    exact percentiles plus the conversion rate — the growth-team
    complement to funnel_view_click_purchase (which counts stage
    survivors; this measures how LONG the surviving path takes).

    Determinism: lags are exact integer microseconds min-reduced per
    user; percentiles interpolate over those exact integers (Spark
    percentile == DuckDB quantile_cont) and round once.

    100-TB shape: one user-grain min-aggregate per stage, a user-key
    join (both sides shuffle once on the same key), and a single-row
    reduce. Exact percentiles sort the converted-user grain (small by
    funnel physics); approx_percentile is the drop-in at extreme
    scale — documented trade, exact here for parity."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # lazy cut: v feeds the conversion join AND the viewer-count
    # scalar — uncut, the scalar re-ran the view scan + aggregate
    # (observed: 3 events scans; guide §1.2). User-grain rows only.
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    e = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_p")
    )
    p = (
        v.join(e, "user_id")
        .filter(F.col("t_p") > F.col("t_view"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros(F.col("t_p")) - F.unix_micros(F.col("t_view"))
            ).alias("lag_us")
        )
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewers"))
    return (
        p.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.expr("percentile(lag_us / 1e6, 0.25)"), 6).alias("lag_p25_s"),
            F.round(F.expr("percentile(lag_us / 1e6, 0.5)"), 6).alias("lag_p50_s"),
            F.round(F.expr("percentile(lag_us / 1e6, 0.75)"), 6).alias("lag_p75_s"),
            F.round(F.expr("percentile(lag_us / 1e6, 0.9)"), 6).alias("lag_p90_s"),
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "n_viewers",
            "n_converted",
            F.round(F.col("n_converted") * 1.0 / F.col("n_viewers"), 6).alias(
                "conversion_rate"
            ),
            "lag_p25_s",
            "lag_p50_s",
            "lag_p75_s",
            "lag_p90_s",
        )
    )


TD_WINDOW_S = 7 * 86400  # touches within 7 days before the purchase
TD_TAU_S = 2 * 86400  # exponential credit half-life scale (seconds)


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH p AS (
        SELECT user_id, event_id AS p_id, ts AS p_ts,
               CAST(round(value, 2) AS DECIMAL(18,2)) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id, event_type AS touch_type, ts AS t_ts
        FROM events WHERE event_type IN ('view', 'click')
    ),
    pair AS (
        SELECT p.p_id, p.v, t.touch_type,
               CAST(round(exp(-(epoch_us(p.p_ts) - epoch_us(t.t_ts))
                              / 1e6 / {TD_TAU_S}), 12)
                    AS DECIMAL(18,12)) AS w
        FROM p JOIN t ON p.user_id = t.user_id
        WHERE t.t_ts < p.p_ts
          AND epoch_us(p.p_ts) - epoch_us(t.t_ts) <= CAST({TD_WINDOW_S} AS BIGINT) * 1000000
    ),
    norm AS (
        SELECT p_id, v, touch_type, w,
               sum(w) OVER (PARTITION BY p_id) AS sw
        FROM pair
    ),
    credit AS (
        SELECT touch_type,
               CAST(round(CAST(v AS DOUBLE)
                          * (CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)), 8)
                    AS DECIMAL(18,8)) AS c
        FROM norm
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(c) AS DOUBLE), 2) AS credited_value,
           round(CAST(sum(c) AS DOUBLE)
                 / CAST((SELECT sum(c) FROM credit) AS DOUBLE), 6) AS share
    FROM credit
    GROUP BY touch_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — the fractional-credit twin
    of attribution_last_touch: every view/click in the 7 days before a
    purchase earns credit proportional to exp(-age/tau), normalized
    per purchase so each purchase distributes exactly its own value.
    Last-touch answers "what closed it"; time-decay answers "what
    share of revenue does each channel actually drive" — the number a
    marketing budget reallocates on.

    Determinism: decay weights are round(exp(.), 12) DECIMALs from
    exact integer microsecond ages; the per-purchase weight sum is an
    exact decimal window; each credit is the same double expression
    rounded to 8 and decimal-summed — order-independent end to end.

    100-TB shape: one user-key equi join (both sides shuffle once on
    the same key) with the time filter applied post-join — pair space
    is purchases x touches PER USER within the window, bounded by
    per-user activity, never corpus-quadratic (the market-basket
    bound, keyed on user). The per-purchase normalization window rides
    the purchase-id key; output is touch-type grain."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.unix_micros(F.col("ts")).alias("p_us"),
        F.round("value", 2).cast("decimal(18,2)").alias("v"),
    )
    t = events.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.unix_micros(F.col("ts")).alias("t_us"),
    )
    age_s = (F.col("p_us") - F.col("t_us")) / 1e6
    pair = (
        p.join(t, "user_id")
        .filter(
            (F.col("t_us") < F.col("p_us"))
            & (F.col("p_us") - F.col("t_us") <= TD_WINDOW_S * 1_000_000)
        )
        .select(
            "p_id",
            "v",
            "touch_type",
            F.round(F.exp(-age_s / TD_TAU_S), 12)
            .cast("decimal(18,12)")
            .alias("w"),
        )
    )
    from pyspark.sql import Window

    sw = F.sum("w").over(Window.partitionBy("p_id"))
    credit = pair.select(
        "touch_type",
        F.round(
            F.col("v").cast("double")
            * (F.col("w").cast("double") / sw.cast("double")),
            8,
        )
        .cast("decimal(18,8)")
        .alias("c"),
    )
    credit = credit.localCheckpoint(eager=False)  # grand total + per-type share it
    tot = credit.agg(F.sum("c").alias("tc"))
    return (
        credit.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("c").alias("sc"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "touch_type",
            "n_touches",
            F.round(F.col("sc").cast("double"), 2).alias("credited_value"),
            F.round(
                F.col("sc").cast("double") / F.col("tc").cast("double"), 6
            ).alias("share"),
        )
    )


# ------------------------------------- Markov next-event baseline
# The sequence family (trigrams, funnels, sessionization) lacked a
# PREDICTIVE eval: the first-order Markov argmax — "after event X,
# the most common next event is Y" — is the baseline every sequence
# model (and every "next action" product feature) must beat, exactly
# as seasonal-naive is the forecasting floor (stats.ts_forecast_
# baseline_mase). Train on even user_ids' consecutive event pairs,
# predict the per-state argmax, score top-1 accuracy on odd users.
#
# Shape: one lead() window per user (the sessionize exchange), one
# count aggregate to the (cur, next) grain (|event types|² rows — a
# model-sized frame at any corpus scale), argmax via one more tiny
# window, broadcast back onto the held-out pairs. Deterministic:
# integer counts, argmax ties broken by next-event name.


@query(
    "seq_markov_next_event",
    oracle="""
    WITH pairs AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    train AS (
        SELECT cur, nxt, count(*) AS c FROM pairs
        WHERE user_id % 2 = 0 AND nxt IS NOT NULL
        GROUP BY 1, 2
    ),
    model AS (
        SELECT cur, nxt AS predicted FROM (
            SELECT cur, nxt,
                   row_number() OVER (
                       PARTITION BY cur ORDER BY c DESC, nxt ASC) AS rk
            FROM train
        ) WHERE rk = 1
    )
    SELECT p.cur AS event_type,
           m.predicted,
           CAST(count(*) AS BIGINT) AS n_test,
           round(sum(CASE WHEN p.nxt = m.predicted THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS top1_accuracy
    FROM pairs p JOIN model m ON p.cur = m.cur
    WHERE p.user_id % 2 = 1 AND p.nxt IS NOT NULL
    GROUP BY p.cur, m.predicted
    ORDER BY event_type
    """,
)
def seq_markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event baseline with held-out top-1
    accuracy per current event type (block comment above)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    train = (
        pairs.filter(F.col("user_id") % 2 == 0)
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = F.row_number().over(
        Window.partitionBy("cur").orderBy(F.desc("c"), F.asc("nxt"))
    )
    model = (
        train.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    return (
        pairs.filter(F.col("user_id") % 2 == 1)
        .join(F.broadcast(model), "cur")
        .groupBy(F.col("cur").alias("event_type"), "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.sum(F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("top1_accuracy"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ cohort LTV curve
# cohort_retention_matrix counts WHO comes back; the LTV curve
# measures what they're WORTH as they age: cumulative spend per
# signup cohort, normalized per cohort member — the curve a
# subscription/marketplace business reads to decide acquisition
# spend (the payback-period chart). Monetary sibling of retention:
# same (cohort, age) grain, decimal-exact revenue instead of
# distinct-user counts, cumulative across age.
#
# Scale: customers collapse to a cohort dimension (one orders-grain
# min-agg); revenue collapses to (cohort, age) — both
# map-combinable; the cumulative window runs at the (cohort, age)
# grain (months x months rows, time-range-bounded like Theil-Sen's
# pair space). Determinism: decimal revenue sums; the running total
# is a window over EXACT decimals. The per-member division is the
# one hazard: cum_rev/n lands exactly on .00005 boundaries for small
# cohorts (first local parity run caught 4/1845 rows flipping between
# Spark's HALF_UP-on-double and DuckDB's decimal-string rounding), so
# BOTH sides compute round_half_up(cum_rev/n, 4) in exact integer
# arithmetic — floor((2*cum_rev*10^4 + n) / (2*n)) / 10^4 — with no
# floating-point rounding step anywhere.


@query(
    "analytics_cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey AS custkey,
               min(date_trunc('month', o_orderdate)) AS cohort_month
        FROM orders GROUP BY 1
    ),
    sizes AS (
        SELECT cohort_month, CAST(count(*) AS BIGINT) AS n_members
        FROM firsts GROUP BY 1
    ),
    rev AS (
        SELECT f.cohort_month,
               CAST(date_diff('month', f.cohort_month,
                              date_trunc('month', o.o_orderdate)) AS INT)
                   AS age_months,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
        FROM orders o JOIN firsts f ON o.o_custkey = f.custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_month, age_months,
               sum(r) OVER (PARTITION BY cohort_month ORDER BY age_months)
                   AS cum_rev
        FROM rev
    )
    SELECT strftime(c.cohort_month, '%Y-%m') AS cohort_month,
           c.age_months,
           s.n_members,
           CAST((CAST(c.cum_rev * 20000 AS HUGEINT) + s.n_members)
                // (2 * s.n_members) AS DOUBLE) / 10000.0
               AS cum_ltv_per_member
    FROM cum c JOIN sizes s ON c.cohort_month = s.cohort_month
    ORDER BY cohort_month, age_months
    """,
)
def analytics_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per cohort member by cohort age in
    months (block comment above)."""
    orders = load_table(spark, sf_dir, "orders")
    # lazy cut: firsts feeds the cohort sizes AND the revenue join —
    # uncut, each consumer re-ran the orders scan + first-order
    # aggregate (guide §1.2). Customer-grain rows only.
    firsts = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort_month")
    ).localCheckpoint(eager=False)
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    rev = (
        orders.join(firsts, orders.o_custkey == firsts.custkey)
        .groupBy(
            "cohort_month",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort_month")
            )
            .cast("int")
            .alias("age_months"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    cum = rev.withColumn(
        "cum_rev",
        F.sum("r").over(
            Window.partitionBy("cohort_month")
            .orderBy("age_months")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # exact round-half-up at 4 decimals: T = 2*cum_rev*10^4 + n is an
    # exact integer (cum_rev has scale 2), floor(T / 2n) done via exact
    # decimal pmod — the only double produced is the final scaled value
    t = (F.col("cum_rev") * F.lit(20000)).cast("decimal(38,0)") + F.col("n_members")
    d = (F.col("n_members") * F.lit(2)).cast("decimal(38,0)")
    scaled = ((t - t % d) / d).cast("decimal(38,0)")
    return (
        cum.join(F.broadcast(sizes), "cohort_month")
        .select(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
            "age_months",
            "n_members",
            (scaled.cast("double") / F.lit(10000.0)).alias("cum_ltv_per_member"),
        )
        .orderBy("cohort_month", "age_months")
    )


# ------------------------------------- windowed-constraint funnel
# funnel_view_click_purchase resolves unconstrained stage order;
# production funnels almost always add PER-TRANSITION time windows
# ("click within 48h of view, purchase within 72h of click" — the
# Amplitude/GA-style definition), because an unconstrained funnel
# credits conversions that marketing can't act on. Windows chosen
# against the measured gap distribution (view->click median ~32h,
# click->purchase median ~36h at sf0.01) so each step keeps a real
# but partial cohort — non-vacuous drop-off at every transition.
#
# Determinism: stage times are min-reduced exact microseconds; step
# counts are exact longs; conversion ratios use INTEGER floor
# arithmetic (n*10^6 div prev) — a ratio of small counts lands
# exactly on round-half boundaries often enough that round() on a
# double diverges between engines (the analytics_cohort_ltv_curve
# lesson, applied preemptively); avg lags divide an exact integer
# micro-sum once and floor at 4 decimals the same way.

FW_W1_US = 48 * 3600 * 1_000_000  # view -> click window
FW_W2_US = 72 * 3600 * 1_000_000  # click -> purchase window


@query(
    "funnel_windowed_steps",
    oracle=f"""
    WITH v AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t0
          AND epoch_us(e.ts) - epoch_us(v.t0) <= {FW_W1_US}
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t1
          AND epoch_us(e.ts) - epoch_us(c.t1) <= {FW_W2_US}
        GROUP BY 1
    ),
    agg AS (
        SELECT (SELECT count(*) FROM v) AS n1,
               (SELECT count(*) FROM c) AS n2,
               (SELECT count(*) FROM p) AS n3,
               (SELECT sum(epoch_us(c.t1) - epoch_us(v.t0))
                FROM c JOIN v ON v.user_id = c.user_id) AS lag1,
               (SELECT sum(epoch_us(p.t2) - epoch_us(c.t1))
                FROM p JOIN c ON c.user_id = p.user_id) AS lag2
    )
    SELECT * FROM (
        SELECT CAST(1 AS INT) AS step, 'view' AS stage,
               CAST(n1 AS BIGINT) AS n_users,
               CAST(1.0 AS DOUBLE) AS conv_from_prev,
               CAST(1.0 AS DOUBLE) AS conv_from_start,
               CAST(NULL AS DOUBLE) AS avg_lag_s
        FROM agg
        UNION ALL
        SELECT 2, 'click', CAST(n2 AS BIGINT),
               CAST((n2 * 1000000) // n1 AS DOUBLE) / 1000000,
               CAST((n2 * 1000000) // n1 AS DOUBLE) / 1000000,
               CAST(floor(CAST(lag1 AS DOUBLE) / n2 / 1e6 * 10000)
                    AS DOUBLE) / 10000
        FROM agg
        UNION ALL
        SELECT 3, 'purchase', CAST(n3 AS BIGINT),
               CAST((n3 * 1000000) // n2 AS DOUBLE) / 1000000,
               CAST((n3 * 1000000) // n1 AS DOUBLE) / 1000000,
               CAST(floor(CAST(lag2 AS DOUBLE) / n3 / 1e6 * 10000)
                    AS DOUBLE) / 10000
        FROM agg
    )
    ORDER BY step
    """,
)
def funnel_windowed_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-step funnel with per-transition time-window constraints
    (block comment above): per step, the surviving-user count, the
    step conversion from the previous step, the cumulative conversion
    from step 1, and the mean transition lag in seconds.

    100-TB shape: the per-user resolution is ONE shuffle — the same
    collect-sorted-events array device as funnel_view_click_purchase
    (arrays bounded by per-user activity), stage times resolved by
    narrow array expressions with the window bound folded into the
    filter lambda; the report is then a single-row global aggregate
    unpivoted to 3 rows via stack(). The oracle replays it as three
    windowed aggregate+join rounds — hash equality shows the
    single-pass array form matches the relational form."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("ev"))
    )

    def first_within(stage: str, after: Column, window_us: int) -> Column:
        def keep(e: Column) -> Column:
            return (
                (e.getField("event_type") == stage)
                & (e.getField("ts") > after)
                & (
                    F.unix_micros(e.getField("ts")) - F.unix_micros(after)
                    <= F.lit(window_us)
                )
            )

        return F.array_min(
            F.transform(F.filter(F.col("ev"), keep), lambda e: e.getField("ts"))
        )

    staged = (
        ev.withColumn("t0", _first_after(F.col("ev"), "view", None))
        .filter(F.col("t0").isNotNull())
        .withColumn("t1", first_within("click", F.col("t0"), FW_W1_US))
        .withColumn("t2", first_within("purchase", F.col("t1"), FW_W2_US))
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("n1"),
        F.count("t1").alias("n2"),
        F.count("t2").alias("n3"),
        F.sum(F.unix_micros("t1") - F.unix_micros("t0")).alias("lag1"),
        F.sum(
            F.when(
                F.col("t2").isNotNull(),
                F.unix_micros("t2") - F.unix_micros("t1"),
            )
        ).alias("lag2"),
    )
    return agg.selectExpr(
        """stack(3,
            1, 'view', n1, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
               CAST(NULL AS DOUBLE),
            2, 'click', n2,
               CAST((n2 * 1000000L) div n1 AS DOUBLE) / 1000000,
               CAST((n2 * 1000000L) div n1 AS DOUBLE) / 1000000,
               CAST(floor(CAST(lag1 AS DOUBLE) / n2 / 1e6 * 10000)
                    AS DOUBLE) / 10000,
            3, 'purchase', n3,
               CAST((n3 * 1000000L) div n2 AS DOUBLE) / 1000000,
               CAST((n3 * 1000000L) div n1 AS DOUBLE) / 1000000,
               CAST(floor(CAST(lag2 AS DOUBLE) / n3 / 1e6 * 10000)
                    AS DOUBLE) / 10000
        ) AS (step, stage, n_users, conv_from_prev, conv_from_start,
              avg_lag_s)"""
    ).orderBy("step")
