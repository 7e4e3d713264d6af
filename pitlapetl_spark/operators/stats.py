"""Statistical aggregates, grouping sets, and date/array scalar
breadth — the "free from Spark" surface SURVEY.md §2.6/§2.10 says the
target engine must expose (the reference computes none of these, but a
user switching engines expects them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..registry import query
from ..sources import load_table, register_views
from .aggregates import ols_fit
from .fixpoint import gradient_fit, gradient_fit_ctes, linear


@query(
    "agg_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75
    FROM events
    GROUP BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    == DuckDB ``quantile_cont``). Exact percentile sorts within the
    group — at 100 TB prefer ``percentile_approx`` (t-digest sketch,
    mergeable map-side; see agg_approx_sketches) unless exactness is
    contractual."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
    )


@query(
    "agg_stats_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_discount), 6) AS discount_stddev
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev per group — single-pass
    moment aggregates with map-side partials (no sort, no second
    scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_discount"), 6).alias("discount_stddev"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS sum_qty,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (the engine's dual API:
    every DataFrame operator is also runnable as SQL over the
    registered temp views — both compile to the same Catalyst plan).
    ``grouping()`` markers disambiguate NULL-as-group from
    NULL-as-rollup."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "scalar_date_math",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow_sun0,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_2024,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP) AS plus_2_months
    FROM orders
    """,
)
def scalar_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar breadth: extract fields, truncate, month-end,
    day diff, month arithmetic — all JVM intrinsics (X2's family,
    SURVEY §2.10). dow is Sunday=0 to match DuckDB's EXTRACT(dow)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow_sun0"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_2024"),
        F.add_months(F.col("o_orderdate").cast("date"), 2).cast("timestamp").alias("plus_2_months"),
    )


@query(
    "scalar_array_ops",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           list_contains(toks, 'the') AS has_the,
           array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
           CAST(coalesce(list_position(toks, 'spark'), 0) AS INT) AS spark_pos,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           list_aggregate(list_distinct(toks), 'min') AS min_token
    FROM t
    """,
)
def scalar_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth over the token array: size, membership,
    slicing, positional search, distinct, ordered min — all
    higher-order JVM expressions, zero explode (SURVEY §2.10 target
    surface: ``array_*`` / ``transform`` lambdas)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.array_contains("toks", "the").alias("has_the"),
        F.concat_ws(" ", F.slice("toks", 1, 3)).alias("first3"),
        F.array_position("toks", "spark").cast("int").alias("spark_pos"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_distinct"),
        F.array_min(F.array_distinct("toks")).alias("min_token"),
    )


@query(
    "agg_salted_group_max",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def agg_salted_group_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defense pattern: two-stage salted aggregation. Stage 1
    groups on (key, salt) — a hot key's rows spread over 8 reducers;
    stage 2 merges the 8 partials per key. Result is identical to the
    plain groupBy (the oracle) — the plan differs, the answer must
    not. Max/count re-aggregate losslessly (max of maxes, sum of
    counts); means would carry (sum, count) pairs. AQE's skew-join
    handling covers joins; aggregation skew still needs this manual
    salt at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    salted = events.withColumn("_salt", (F.col("event_id") % 8).cast("int"))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("value").alias("_mx"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("_n").alias("n_events"),
        F.max("_mx").alias("max_value"),
    )


# ------------------------------------------------- winsorization

WINSOR_LO = 0.05
WINSOR_HI = 0.95


@query(
    "winsorize_group_values",
    oracle=f"""
    WITH cuts AS (
        SELECT event_type,
               quantile_cont(value, {WINSOR_LO}) AS lo,
               quantile_cont(value, {WINSOR_HI}) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < c.lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(sum(CASE WHEN e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_raw,
           round(CAST(sum(CAST(least(greatest(e.value, c.lo), c.hi)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_winsorized
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    GROUP BY e.event_type
    """,
)
def winsorize_group_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip each value to its group's exact
    [p05, p95] band and report raw vs clipped means — the outlier
    treatment a feature pipeline applies before normalization. Plan:
    one exact-percentile agg (tiny: one row per group) broadcast back
    onto the fact, then one grouped agg — the fact shuffles once, on
    the same key both times, so AQE coalesces the exchanges. Means
    accumulate in exact decimal so clip-then-sum is order-independent.
    At 100 TB swap the exact percentile for percentile_approx (the
    cuts differ, the plan does not)."""
    events = load_table(spark, sf_dir, "events")
    cuts = F.broadcast(
        events.groupBy("event_type").agg(
            F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
            F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        events.join(cuts, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_winsorized"),
        )
    )


# ------------------------------------------------- A/B test z-score

AB_Z_CRIT = 1.96  # two-sided 95%


@query(
    "ab_test_variant_zscore",
    oracle=f"""
    WITH assigned AS (
        SELECT event_type,
               CAST(user_id % 2 AS INT) AS variant,
               value
        FROM events
    ),
    per AS (
        SELECT event_type, variant,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                   AS mean,
               var_samp(value) AS var
        FROM assigned GROUP BY 1, 2
    ),
    wide AS (
        SELECT a.event_type,
               a.n AS n_control, b.n AS n_treat,
               a.mean AS mean_control, b.mean AS mean_treat,
               a.var AS var_control, b.var AS var_treat
        FROM per a JOIN per b
          ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
    )
    SELECT event_type,
           n_control, n_treat,
           round(mean_control, 6) AS mean_control,
           round(mean_treat, 6) AS mean_treat,
           round((mean_treat - mean_control)
                 / sqrt(var_treat / n_treat + var_control / n_control), 6)
               AS z_score,
           abs(round((mean_treat - mean_control)
               / sqrt(var_treat / n_treat + var_control / n_control), 6))
               > {AB_Z_CRIT} AS significant
    FROM wide
    ORDER BY event_type
    """,
)
def ab_test_variant_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B comparison per metric (event type): users split
    into control/treatment by a deterministic hash of user_id, Welch's
    z on the value means, significance at the two-sided 95% level.
    One pass: a (metric, variant) grouped aggregate (count/mean/var
    are all single-pass moments with map-side partials) self-joined
    wide on the metric key — at 100 TB the fact is touched once and
    the join runs over one row per (metric, variant). Means divide
    exact decimal sums; var_samp matches Spark's variance (sample, n-1
    denominator); the z expression has the same IEEE shape on both
    engines and rounds to 6."""
    events = load_table(spark, sf_dir, "events")
    per = (
        events.select(
            "event_type",
            (F.col("user_id") % 2).cast("int").alias("variant"),
            "value",
        )
        .groupBy("event_type", "variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    a = per.filter(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n_control"),
        F.col("mean").alias("mean_control"),
        F.col("var").alias("var_control"),
    )
    b = per.filter(F.col("variant") == 1).select(
        F.col("event_type").alias("et2"),
        F.col("n").alias("n_treat"),
        F.col("mean").alias("mean_treat"),
        F.col("var").alias("var_treat"),
    )
    z = (F.col("mean_treat") - F.col("mean_control")) / F.sqrt(
        F.col("var_treat") / F.col("n_treat")
        + F.col("var_control") / F.col("n_control")
    )
    return (
        a.join(b, a.event_type == b.et2)
        .select(
            "event_type",
            "n_control",
            "n_treat",
            F.round("mean_control", 6).alias("mean_control"),
            F.round("mean_treat", 6).alias("mean_treat"),
            F.round(z, 6).alias("z_score"),
            # threshold the ROUNDED z: the raw double differs in the
            # last ulps between engines (partial-agg merge order), and
            # a |z| within that noise of the critical value would flip
            # the boolean cross-engine
            (F.abs(F.round(z, 6)) > AB_Z_CRIT).alias("significant"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------- count-min heavy hitters

# Count-min sketch (Cormode-Muthukrishnan): CMS_D independent hash
# rows x CMS_W buckets of counters; a key's estimate is the MIN of its
# CMS_D cells, which can only OVER-count (collisions add, never
# subtract). Hashing is md5-derived so the DuckDB oracle replays the
# sketch — collisions, overestimates and all. Sized tight (150 keys
# into 64 buckets) so collisions actually occur in the test corpus.
CMS_D = 3
CMS_W = 64
HH_THRESHOLD = 80  # estimated-count floor for the heavy-hitter flag


def _cms_bucket_sql(j: int, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{j}:' || CAST({key} AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {CMS_W}"
    )


def _cms_bucket_spark(j: int, key) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % CMS_W
    )


def cms_hash_explode(df: DataFrame, key_col: str, *carry: str) -> DataFrame:
    """The ONE definition of the CMS hash family's row layout: explode
    ``df`` into (``*carry``, j, bucket) rows — CMS_D rows per input
    row, bucket = hash_j(key). Shared by the batch sketch builder, the
    batch probe side, the streaming sketch sink, and the streaming
    probe (streaming/runtime.py), so the stream/batch bit-equality
    contract is structural rather than four hand-kept copies (review
    r5 round 2 #6)."""
    key = F.col(key_col)
    return df.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket_spark(j, key).alias("bucket"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("h"),
    ).select(*carry, "h.j", "h.bucket")


@query(
    "agg_heavy_hitters_cms",
    oracle=f"""
    WITH hashed AS (
        SELECT user_id, j,
               CASE j {" ".join(f"WHEN {j} THEN {_cms_bucket_sql(j, 'user_id')}" for j in range(CMS_D))} END AS bucket
        FROM events, (SELECT unnest(range({CMS_D})) AS j)
    ),
    cells AS (
        SELECT j, bucket, count(*) AS cell_cnt FROM hashed GROUP BY 1, 2
    ),
    exact AS (
        SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
    ),
    probes AS (
        SELECT e.user_id, e.exact_cnt, h.j,
               CASE h.j {" ".join(f"WHEN {j} THEN {_cms_bucket_sql(j, 'e.user_id')}" for j in range(CMS_D))} END AS bucket
        FROM exact e, (SELECT unnest(range({CMS_D})) AS j) h
    )
    SELECT p.user_id,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(min(c.cell_cnt) AS BIGINT) AS cms_est,
           CAST(min(c.cell_cnt) - p.exact_cnt AS BIGINT) AS overcount,
           min(c.cell_cnt) >= {HH_THRESHOLD} AS is_heavy
    FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.user_id, p.exact_cnt
    """,
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a count-min sketch: per-event the
    CMS_D hash rows each bump one of CMS_W counters; a key's estimate
    is the min over its cells (>= truth, never under). Every distinct
    key is then probed against the sketch and compared with its exact
    count, so the overestimate property is *verified* row by row;
    is_heavy flags estimates over HH_THRESHOLD.

    100-TB shape: the sketch is the point — CMS_D x CMS_W counters
    (fixed bytes, here 192 cells) regardless of key cardinality, built
    with one map-side-combinable aggregate and mergeable across
    partitions/days by cell-wise addition. The probe side joins
    against the BROADCAST sketch; in production the candidate set
    comes from a cheap pre-pass (or the stream keeps a rolling top-k),
    not a full distinct — the distinct here exists to verify the
    sketch against exact truth."""
    events = load_table(spark, sf_dir, "events")
    hashed = cms_hash_explode(events, "user_id")
    cells = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cell_cnt"))
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = cms_hash_explode(exact, "user_id", "user_id", "exact_cnt")
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cell_cnt").alias("cms_est"))
    )
    return est.select(
        "user_id",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        (F.col("cms_est") >= HH_THRESHOLD).alias("is_heavy"),
    )


# ------------------------------------------------- IQR outlier profile

IQR_FENCE = 1.5


@query(
    "anomaly_iqr_outliers",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS q1,
               round(quantile_cont(value, 0.75), 6) AS q3
        FROM events GROUP BY 1
    ),
    f AS (
        SELECT event_type, q1, q3,
               round(q1 - {IQR_FENCE} * (q3 - q1), 6) AS lo_fence,
               round(q3 + {IQR_FENCE} * (q3 - q1), 6) AS hi_fence
        FROM q
    )
    SELECT e.event_type, f.q1, f.q3, f.lo_fence, f.hi_fence,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN e.value < f.lo_fence OR e.value > f.hi_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(sum(CASE WHEN e.value < f.lo_fence OR e.value > f.hi_fence
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS outlier_rate
    FROM events e JOIN f ON e.event_type = f.event_type
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def anomaly_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profile per group: exact q1/q3, the
    IQR_FENCE*IQR fences, and how many values fall outside them —
    the standard robust (median-family) alternative to the z-score
    anomaly pass (anomaly_rolling_zscore), insensitive to the
    outliers it is hunting.

    Two-pass shape: the per-group quantile aggregate produces one row
    per group (tiny — broadcast), then one streaming pass over the
    fact compares each value against its group's fences. At 100 TB
    swap exact percentile for percentile_approx (mergeable t-digest)
    and the second pass is unchanged; the fence table stays
    broadcast-size as long as group cardinality does (documented
    contract, same as every dim broadcast in this repo). Quantiles are
    round(6)-ed BEFORE the fence arithmetic on both engines so
    interpolation ulps can't move a borderline value across a fence."""
    events = load_table(spark, sf_dir, "events")
    q = events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )
    f = q.select(
        "event_type",
        "q1",
        "q3",
        F.round(F.col("q1") - IQR_FENCE * (F.col("q3") - F.col("q1")), 6).alias(
            "lo_fence"
        ),
        F.round(F.col("q3") + IQR_FENCE * (F.col("q3") - F.col("q1")), 6).alias(
            "hi_fence"
        ),
    )
    out = (F.col("value") < F.col("lo_fence")) | (F.col("value") > F.col("hi_fence"))
    return (
        events.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(out.cast("long")).alias("n_outliers"),
            F.round(
                F.sum(out.cast("long")) / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
        )
    )


# -------------------------------------------- closed-form linear fit


def _qty_price_moments(li: DataFrame) -> DataFrame:
    """Per l_returnflag, the moment sums ``n, sx, sy, sxx, sxy, syy``
    of x = l_quantity and y = l_extendedprice in decimal(18,2): both
    inputs have 2 decimal places, so the products are exact and the
    sums order-independent."""
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )


@query(
    "ml_linear_fit_closed_form",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        FROM lineitem GROUP BY 1
    ),
    d AS (
        SELECT l_returnflag, n,
               CAST(n * sxy - sx * sy AS DOUBLE) AS num,
               CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
               CAST(n * syy - sy * sy AS DOUBLE) AS deny,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        FROM s
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(num / nullif(denx, 0), 6) AS slope,
           round((syd - num / nullif(denx, 0) * sxd) / n, 6) AS intercept,
           round(num * num / nullif(denx * deny, 0), 6) AS r2
    FROM d
    """,
)
def ml_linear_fit_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression by the closed-form normal
    equations: ONE aggregate pass collecting the five moment sums,
    then slope/intercept/r² as scalar arithmetic — no gradient loop,
    no ML library, no second scan. Price-vs-quantity per returnflag
    here; the shape is the per-segment trend fit every metrics
    pipeline runs.

    Determinism contract (the pagerank device): the moment sums
    accumulate in EXACT DECIMAL (inputs have 2 decimal places, so
    decimal(18,2) products are exact and their sums
    order-independent) — double accumulation would differ by ulps
    between engines at 10^11-scale sums and flip round(6). The exact
    decimals are cast to double only for the final three divisions,
    identical IEEE ops on identical inputs. 100-TB shape: one
    map-side-combinable aggregate on the group key; moments are
    mergeable, so this fits incremental/MV maintenance too
    (incremental.py's pattern)."""
    s = _qty_price_moments(load_table(spark, sf_dir, "lineitem"))
    slope, intercept, r2 = ols_fit()
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


# ---------------------------------------- logistic regression by GD

LOGREG_ITERS = 5
LOGREG_LR = 0.5

_LOGREG_FEATS_SQL = """
    SELECT doc_id,
           CAST(n_chars AS DOUBLE) / 100.0 AS x1,
           (length(text) - length(replace(text, ' ', ''))) * 10.0
               / n_chars AS x2,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
    FROM documents
"""


def _logreg_p_sql(w: str) -> str:
    """round-9 sigmoid under weights CTE alias ``w`` — shared by the
    gradient and accuracy CTEs so the expression trees are identical."""
    return f"round(1.0 / (1.0 + exp(-({w}.a + {w}.b * x1 + {w}.c * x2))), 9)"


def _logreg_train_ctes() -> list[str]:
    """The unrolled training chain (features, n, w0..w{ITERS}) —
    shared by the trainer's oracle and the scoring query's oracle so
    the two replay the IDENTICAL fit."""
    return gradient_fit_ctes(
        _LOGREG_FEATS_SQL, f"({_logreg_p_sql('w')} - y)", LOGREG_LR, LOGREG_ITERS
    )


def _logreg_oracle() -> str:
    p_final = _logreg_p_sql("w")
    return (
        "WITH "
        + ",\n".join(_logreg_train_ctes())
        + f"""
    SELECT w.a AS w0, w.b AS w1, w.c AS w2, nn.n AS n,
           round(sum(CASE WHEN ({p_final} >= 0.5) = (y = 1.0)
                          THEN 1 ELSE 0 END) * 1.0 / nn.n, 6) AS accuracy
    FROM f CROSS JOIN w{LOGREG_ITERS} w CROSS JOIN nn
    GROUP BY w.a, w.b, w.c, nn.n
    """
    )


def _logreg_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document features + label (the oracle's feats CTE, Spark
    side) — shared by the trainer and the scoring pass."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (F.col("n_chars").cast("double") / 100.0).alias("x1"),
        (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            )
            * 10.0
            / F.col("n_chars")
        ).alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )


def _logreg_p(w: list[float]):
    """round-9 sigmoid under literal weights — the Spark twin of
    ``_logreg_p_sql``, identical expression tree on both consumers."""
    return F.round(1.0 / (1.0 + F.exp(-linear(w))), 9)


def _logreg_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[float], int]:
    """(cut features, final weights, n) of the logistic fit."""
    return gradient_fit(
        _logreg_feats(spark, sf_dir),
        lambda w: _logreg_p(w) - F.col("y"),
        LOGREG_LR,
        LOGREG_ITERS,
    )


@query("ml_logreg_gradient_descent", oracle=_logreg_oracle())
def ml_logreg_gradient_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic regression trained by full-batch gradient
    descent as pure DataFrame aggregates — the iterative-ML twin of
    ``ml_linear_fit_closed_form`` for models with NO closed form.
    Each of LOGREG_ITERS iterations is one pass of the shared
    ``gradient_fit`` step loop: per-row sigmoid under the current
    weights, the three gradient components summed in EXACT DECIMAL
    (double accumulation would diverge between engines and runs), and
    a driver-side update of the three weights. Features: doc length
    and words-per-char; label:
    lang = 'en'; output = final weights + train accuracy.

    Cross-engine determinism: the sigmoid is round-9-ed before the
    decimal cast (exp() may differ in the last ulp between libm and
    DuckDB; 9 decimals absorbs it — the PMI/log precedent), weight
    updates round-12 with the identical expression order, and the
    oracle replays every iteration as an unrolled CTE chain.

    100-TB shape: cost is ITERS scans x one map-side-combinable
    aggregate — no shuffle of data rows at all (the aggregate is
    global: partials per partition, one tiny final merge); the model
    state crossing the driver is 3 doubles. Mini-batch/SGD variants
    sample the scan; feature-wide models carry a weight VECTOR as a
    one-row broadcast instead of literals. ITERS is fixed (not
    convergence-tested) so the oracle can unroll."""
    feats, w, n = _logreg_train(spark, sf_dir)
    p = _logreg_p(w)
    acc = feats.agg(
        F.round(
            F.sum(F.when((p >= 0.5) == (F.col("y") == 1.0), 1).otherwise(0))
            * 1.0
            / F.lit(n),
            6,
        ).alias("accuracy")
    )
    return acc.select(
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        F.lit(n).cast("long").alias("n"),
        "accuracy",
    )


def _quality_score_oracle() -> str:
    p = _logreg_p_sql("w")
    return (
        "WITH "
        + ",\n".join(_logreg_train_ctes())
        + f"""
    SELECT doc_id,
           round({p}, 6) AS quality_score,
           {p} >= 0.5 AS predicted_en,
           y = 1.0 AS label_en,
           ({p} >= 0.5) = (y = 1.0) AS correct
    FROM f CROSS JOIN w{LOGREG_ITERS} w
    """
    )


@query("text_quality_classifier_score", oracle=_quality_score_oracle())
def text_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level quality-classifier SCORING pass (VERDICT r9
    item 7): apply the ``ml_logreg_gradient_descent`` model to every
    document — the model-apply half the trainer alone doesn't
    exercise, and the standard second stage of a C4-style quality
    gate (train once on a labeled sample, score the whole crawl).

    The weights come from the same deterministic 5-iteration GD fit
    (shared ``_logreg_train``; the oracle replays the identical
    unrolled CTE chain via ``_logreg_train_ctes``, so trainer and
    scorer can never drift), then ride into the scoring projection
    as THREE LITERALS — the degenerate broadcast: per-row cost is a
    fused JVM sigmoid inside whole-stage codegen, no join at all. A
    feature-wide model carries a weight VECTOR as a one-row
    broadcast frame instead (the documented generalization); either
    way the scoring pass is one narrow map over the corpus — the
    shape that matters at 100 TB, where training touches a sample
    but scoring touches every row.

    Determinism: the sigmoid is round-9-ed (the trainer's device —
    exp() may differ in the last ulp between libms; 9 decimals
    absorb it), the released score re-rounds to 6 with ~2e9x ulp
    headroom at |v|<=1, and the 0.5 decision threshold compares the
    PINNED round-9 value on both engines."""
    feats, w, _ = _logreg_train(spark, sf_dir)
    p = _logreg_p(w)
    pred = p >= 0.5
    return feats.select(
        "doc_id",
        F.round(p, 6).alias("quality_score"),
        pred.alias("predicted_en"),
        (F.col("y") == 1.0).alias("label_en"),
        (pred == (F.col("y") == 1.0)).alias("correct"),
    )


# ------------------------------------------- Poisson bootstrap CIs

BOOT_B = 32  # bootstrap replicates
BOOT_SEED = "boot-1"
_BOOT_DENOM = 16**15  # 15 hex digits -> 2^60 (the A-Res uniform device)
# Poisson(1) CDF to 10 digits — IDENTICAL literals on both engines, so
# the inverse-CDF CASE ladder can never disagree on a draw
_POIS_CDF = (
    "0.3678794412", "0.7357588823", "0.9196986029", "0.9810118431",
    "0.9963401532", "0.9994058152", "0.9999167589", "0.9999897508",
)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


@query(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH rep AS (
        SELECT l_returnflag, l_extendedprice, r,
               (CAST(('0x' || substr(md5('{BOOT_SEED}:'
                    || CAST(l_orderkey AS VARCHAR) || ':'
                    || CAST(l_linenumber AS VARCHAR) || ':'
                    || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                   / {_BOOT_DENOM}.0 AS u
        FROM lineitem, unnest(range(0, {BOOT_B})) AS t(r)
    ),
    draw AS (
        SELECT l_returnflag, r,
               {_pois_case_sql("u")} AS k,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS xd
        FROM rep
    ),
    rm AS (
        SELECT l_returnflag, r,
               round(CAST(sum(k * xd) AS DOUBLE)
                     / nullif(sum(k), 0), 6) AS m
        FROM draw GROUP BY 1, 2
    ),
    rk AS (
        SELECT l_returnflag, m,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY m NULLS LAST, r) AS rn
        FROM rm
    ),
    base AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    )
    SELECT b.l_returnflag, b.n_rows,
           round(CAST(sum(CAST(rk.m AS DECIMAL(18,6))) AS DOUBLE)
                 / {BOOT_B}, 6) AS boot_mean,
           max(CASE WHEN rk.rn = 2 THEN rk.m END) AS ci_lo,
           max(CASE WHEN rk.rn = {BOOT_B - 1} THEN rk.m END) AS ci_hi
    FROM rk JOIN base b ON b.l_returnflag = rk.l_returnflag
    GROUP BY 1, 2
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-returnflag
    mean extended price — error bars for pipeline metrics WITHOUT
    resampling the dataset B times: each row independently draws a
    Poisson(1) replication count per replicate (the Poisson bootstrap
    — at scale the multinomial and Poisson resamples converge), so
    one pass over rows x B computes all replicate means, and the CI
    is order statistics over the B means (2nd / 31st of B=32 ≈ the
    95% band, interpolation-free so both engines agree exactly).

    Determinism: draws come from the seeded md5-hash uniform (the
    A-Res device — no RNG state, repartition-proof) through an
    inverse-CDF CASE ladder over 10-digit Poisson CDF literals shared
    verbatim with the oracle; replicate sums accumulate k * price in
    EXACT DECIMAL; the point estimate averages the 32 rounded means
    in decimal.

    100-TB shape: the explode is rows x B but every column after it
    is narrow and the aggregate is map-side-combinable to (group,
    replicate) grain — shuffle payload is B rows per group per task;
    the order-statistics window runs over B rows per group. B scales
    the cost linearly and independently of data size per replicate —
    the whole point of the Poisson trick vs B physical resamples.
    Cost honesty (10x probe: 4.9 s -> 43.9 s, linear in rows x B):
    the md5-per-draw is this registry's cross-engine determinism tax,
    same as the winnowing md5 twin — a production deployment that
    doesn't need DuckDB replay swaps the uniform to xxhash64(row, r)
    (JVM-side, ~10x cheaper) with the identical ladder and shape."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    rep = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(BOOT_SEED),
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(_BOOT_DENOM))
    k = F.lit(len(_POIS_CDF))
    for kk in range(len(_POIS_CDF) - 1, -1, -1):
        k = F.when(u < float(_POIS_CDF[kk]), kk).otherwise(k)
    draw = rep.select(
        "l_returnflag",
        "r",
        k.alias("k"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("xd"),
    )
    from pyspark.sql import Window

    rm = draw.groupBy("l_returnflag", "r").agg(
        F.round(
            F.sum(F.col("k") * F.col("xd")).cast("double")
            / F.nullif(F.sum("k"), F.lit(0)),
            6,
        ).alias("m")
    )
    # explicit NULLS LAST: a replicate whose every draw is zero has
    # an undefined (NULL) mean — possible only for near-empty groups,
    # but Spark's default ASC is NULLS FIRST while DuckDB's is NULLS
    # LAST, so without pinning it the order-statistic CI would diverge
    # between engines on exactly that edge
    w = Window.partitionBy("l_returnflag").orderBy(
        F.asc_nulls_last("m"), "r"
    )
    rk = rm.withColumn("rn", F.row_number().over(w))
    base = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        rk.join(base, "l_returnflag")
        .groupBy("l_returnflag", "n_rows")
        .agg(
            F.round(
                F.sum(F.col("m").cast("decimal(18,6)")).cast("double")
                / F.lit(BOOT_B),
                6,
            ).alias("boot_mean"),
            F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("m"))).alias("ci_hi"),
        )
    )


# --------------------------------------- 2-D Mahalanobis outliers

MAHA_TOP = 20


@query(
    "anomaly_mahalanobis_2d",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        FROM lineitem GROUP BY 1
    ),
    m AS (
        SELECT l_returnflag, n,
               CAST(sx AS DOUBLE) / n AS mx,
               CAST(sy AS DOUBLE) / n AS my,
               CAST(n * sxx - sx * sx AS DOUBLE) / n / n AS vxx,
               CAST(n * sxy - sx * sy AS DOUBLE) / n / n AS vxy,
               CAST(n * syy - sy * sy AS DOUBLE) / n / n AS vyy
        FROM s
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round(((l.l_quantity - m.mx) * (l.l_quantity - m.mx) * m.vyy
                  - 2.0 * (l.l_quantity - m.mx)
                        * (l.l_extendedprice - m.my) * m.vxy
                  + (l.l_extendedprice - m.my)
                        * (l.l_extendedprice - m.my) * m.vxx)
                 / (m.vxx * m.vyy - m.vxy * m.vxy), 6) AS d2
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    ORDER BY d2 DESC, l.l_orderkey ASC, l.l_linenumber ASC
    LIMIT {MAHA_TOP}
    """,
)
def anomaly_mahalanobis_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top multivariate outliers by squared Mahalanobis distance on
    (quantity, price) per returnflag — the correlation-aware outlier
    detector: a row can sit inside both univariate bands (IQR/zscore
    would pass it) while being wildly off the group's quantity-price
    RIDGE; Mahalanobis divides by the covariance structure, so
    off-ridge rows surface. The 2x2 inverse is closed-form (adjugate
    over determinant), so the whole operator is ONE moment-sums
    aggregate (the linear-fit decimal-exact pass — five sums reused
    shape-for-shape), a 3-row broadcast of the per-group model, one
    narrow scoring pass, and a TakeOrderedAndProject top-k. Means,
    variances, and d² use the identical expression trees on both
    engines over exact-decimal sums (the determinism ladder of
    ml_linear_fit_closed_form).

    100-TB shape: two scans (moments, scoring — fusable to one with a
    cached frame if the scan dominates), zero data shuffles beyond
    the tiny moments aggregate; higher dimensions d keep the same
    plan with a d×d matrix in the broadcast and a driver-side (or
    breeze-side) inverse — the per-row cost stays O(d²) expressions."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice",
    )
    s = _qty_price_moments(li)
    m = s.select(
        "l_returnflag",
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
         / F.col("n") / F.col("n")).alias("vxx"),
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
         / F.col("n") / F.col("n")).alias("vxy"),
        ((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
         / F.col("n") / F.col("n")).alias("vyy"),
    )
    dx = F.col("l_quantity") - F.col("mx")
    dy = F.col("l_extendedprice") - F.col("my")
    d2 = F.round(
        (dx * dx * F.col("vyy") - 2.0 * dx * dy * F.col("vxy")
         + dy * dy * F.col("vxx"))
        / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy")),
        6,
    )
    return (
        li.join(F.broadcast(m), "l_returnflag")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag", d2.alias("d2")
        )
        .orderBy(F.desc("d2"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(MAHA_TOP)
    )



def decimal_mean8(value_col: str = "value"):
    """The exact-decimal mean aggregate expression:
    round(sum(round(v,8)::DECIMAL(18,8))::double / count, 8)::DECIMAL(18,8).
    Shared by the CUSUM daily series (batch here + the streaming
    monitor's merged-partial twin in streaming/runtime.py),
    ts_seasonal_decompose, and window_interpolate_linear — the
    bit-equality and oracle-parity contracts depend on every site
    using THIS expression, so it exists exactly once."""
    return (
        F.round(
            F.sum(F.round(value_col, 8).cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1)),
            8,
        ).cast("decimal(18,8)")
    )


@query(
    "anomaly_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS m
        FROM events GROUP BY 1, 2
    ),
    cent AS (
        SELECT event_type, day, m,
               CAST(round(CAST(sum(m) OVER (PARTITION BY event_type)
                               AS DOUBLE)
                          / count(*) OVER (PARTITION BY event_type), 8)
                    AS DECIMAL(18,8)) AS mu,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days
        FROM daily
    ),
    cs AS (
        SELECT event_type, day, n_days,
               sum(m - mu) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum
        FROM cent
    )
    SELECT event_type, day AS changepoint_day, n_days,
           round(CAST(abs(cusum) AS DOUBLE), 6) AS max_abs_cusum
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_type
            ORDER BY abs(cusum) DESC, day ASC) AS rn
        FROM cs
    )
    WHERE rn = 1
    """,
)
def anomaly_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimation per event_type (Page 1954 — the
    classic single-shift detector): cumulative sum of deviations of
    the DAILY mean value from the series' grand mean; the day where
    |CUSUM| peaks is the least-squares estimate of where the mean
    shifted. The monitoring primitive behind "did this metric step up,
    and when?" — complements anomaly_rolling_zscore (point outliers)
    and anomaly_iqr_outliers (distribution fences) with LOCATION of a
    persistent level change.

    Determinism: daily means accumulate as exact DECIMAL sums of
    round(value,8); the grand mean is rounded to 8 before centering;
    the running CUSUM is an exact DECIMAL running sum, so the argmax
    comparison is exact on both engines; argmax ties break on the
    earliest day.

    100-TB shape: the heavy step is ONE hash aggregate at
    (event_type, day) grain — map-side combinable, uniform keys.
    Everything after runs at day grain (years x types ~ thousands of
    rows); the per-type windows are tiny by construction, the same
    grain-collapse discipline as window_ewma_daily."""
    events = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = (
        events.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(decimal_mean8("value").alias("m"))
    )
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """CUSUM argmax over a (event_type, day, m DECIMAL(18,8)) daily
    frame — shared by the batch query above and the streaming monitor
    (streaming/runtime.py run_cusum_sink), so the stream-maintained
    answer is BIT-EQUAL to the batch one by construction."""
    from pyspark.sql import Window

    wt = Window.partitionBy("event_type")
    cent = daily.select(
        "event_type",
        "day",
        "m",
        F.round(F.sum("m").over(wt).cast("double") / F.count(F.lit(1)).over(wt), 8)
        .cast("decimal(18,8)")
        .alias("mu"),
        F.count(F.lit(1)).over(wt).alias("n_days"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = cent.select(
        "event_type",
        "day",
        "n_days",
        F.sum(F.col("m") - F.col("mu")).over(wc).alias("cusum"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        cs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            "n_days",
            F.round(F.abs(F.col("cusum")).cast("double"), 6).alias("max_abs_cusum"),
        )
    )


@query(
    "stats_chi2_independence",
    oracle="""
    WITH cell AS (
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               CAST(count(*) AS BIGINT) AS observed
        FROM lineitem GROUP BY 1, 2
    ),
    m AS (
        SELECT returnflag, linestatus, observed,
               sum(observed) OVER (PARTITION BY returnflag) AS row_n,
               sum(observed) OVER (PARTITION BY linestatus) AS col_n,
               sum(observed) OVER () AS n
        FROM cell
    )
    SELECT returnflag, linestatus, observed,
           round(row_n * 1.0 * col_n / n, 6) AS expected,
           round(pow(observed - row_n * 1.0 * col_n / n, 2)
                 / (row_n * 1.0 * col_n / n), 6) AS chi2_term
    FROM m
    """,
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (returnflag x linestatus): per-cell observed counts vs the
    marginal-product expectation, with per-cell chi-square terms so an
    analyst sees WHICH combination drives the dependence (here the
    flag/status correlation is structural — returned lines are
    finished lines — so the terms are large by design). The
    categorical counterpart to agg_stats_corr's numeric correlation.

    Determinism: everything derives from exact integer counts; the
    single double division and pow happen on those exact integers,
    rounded once.

    100-TB shape: ONE map-side-combinable aggregate to cell grain
    (|flag| x |status| ~ 6 rows); the marginal windows run over those
    6 rows. Nothing else touches the fact table."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    )
    cell = li.groupBy("returnflag", "linestatus").agg(
        F.count(F.lit(1)).alias("observed")
    )
    m = cell.select(
        "returnflag",
        "linestatus",
        "observed",
        F.sum("observed").over(Window.partitionBy("returnflag")).alias("row_n"),
        F.sum("observed").over(Window.partitionBy("linestatus")).alias("col_n"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    )
    exp_ = F.col("row_n") * 1.0 * F.col("col_n") / F.col("n")
    return m.select(
        "returnflag",
        "linestatus",
        "observed",
        F.round(exp_, 6).alias("expected"),
        F.round(F.pow(F.col("observed") - exp_, F.lit(2)) / exp_, 6).alias(
            "chi2_term"
        ),
    )


QN_BUCKETS = 20  # quantile-normalization resolution


@query(
    "stats_quantile_normalize",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CAST(round(value, 8) AS DECIMAL(18,8)) AS v,
               ntile({QN_BUCKETS}) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS bucket
        FROM events
    ),
    tgt AS (
        SELECT bucket,
               round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS target_value
        FROM b GROUP BY bucket
    ),
    grp AS (
        SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS raw_mean
        FROM b GROUP BY 1, 2
    )
    SELECT g.event_type, g.bucket, g.n, g.raw_mean, t.target_value,
           round(t.target_value - g.raw_mean, 6) AS shift
    FROM grp g JOIN tgt t USING (bucket)
    """,
)
def stats_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization fit (Bolstad et al. 2003, the microarray
    /feature-preprocessing standard — public): align every
    event_type's value distribution to the common cross-type
    reference by quantile bucket. Output is the FIT artifact — per
    (type, bucket): the type's own bucket mean, the cross-type target
    for that bucket, and the shift applying the normalization; the
    apply step is a broadcast join of this ~types x {QN_BUCKETS}
    frame back onto rows (the same fit/apply split as
    winsorize_group_values).

    Determinism: ntile over (value, event_id) is tie-stable; bucket
    sizing (first n%k buckets one larger) is the SQL-standard rule on
    both engines; all means are exact DECIMAL sums divided once.

    100-TB shape: one event_type-key window exchange (the heavy
    step), then two tiny grain-collapsed aggregates and a
    bucket-grain join (broadcast by size). For a type too hot for
    one sorted partition, swap ntile for percent_rank binning over
    approx quantile fences — documented trade, exact here for
    parity."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    b = events.select(
        "event_type",
        F.round("value", 8).cast("decimal(18,8)").alias("v"),
        F.ntile(QN_BUCKETS).over(w).alias("bucket"),
    ).localCheckpoint(eager=False)  # one window pass, two consumers
    tgt = b.groupBy("bucket").agg(
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias(
            "target_value"
        )
    )
    grp = b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias("raw_mean"),
    )
    return grp.join(F.broadcast(tgt), "bucket").select(
        "event_type",
        "bucket",
        "n",
        "raw_mean",
        "target_value",
        F.round(F.col("target_value") - F.col("raw_mean"), 6).alias("shift"),
    )


WMED_DEC = "decimal(18,2)"


@query(
    "agg_weighted_median",
    oracle="""
    WITH s AS (
        SELECT l_returnflag AS returnflag,
               l_extendedprice AS price,
               CAST(round(l_quantity, 2) AS DECIMAL(18,2)) AS wgt,
               sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cumw,
               sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag) AS totw
        FROM lineitem
    )
    SELECT returnflag,
           round(CAST(min(CASE WHEN cumw * 2 >= totw THEN price END)
                      AS DOUBLE), 2) AS weighted_median,
           round(CAST(max(totw) AS DOUBLE), 2) AS total_weight,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM s
    GROUP BY returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median price per return flag, weighted by quantity —
    the robust center for line items where a 50-unit line should pull
    the median 50x harder than a 1-unit line (plain median treats them
    equally; weighted mean lets whales dominate). Definition: smallest
    price whose cumulative weight reaches half the group's total
    (lower weighted median).

    Determinism: weights accumulate as exact DECIMAL in a window
    ordered by (price, orderkey, linenumber) — the unique key makes
    the running sum reproducible even across equal prices — and the
    half-total comparison is exact decimal arithmetic (cumw*2 >= totw
    avoids any division).

    100-TB shape: ONE exchange on the group key; the sort-window and
    the final min-aggregate ride the same partitioning. Per-group
    sort is the exact-median cost (same trade as agg_percentiles);
    the approx path at extreme scale is weight-expanded
    approx_percentile — documented, exact here for parity."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_extendedprice").alias("price"),
        F.round("l_quantity", 2).cast(WMED_DEC).alias("wgt"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        Window.partitionBy("returnflag")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("returnflag")
    s = li.select(
        "returnflag",
        "price",
        F.sum("wgt").over(wc).alias("cumw"),
        F.sum("wgt").over(wt).alias("totw"),
    )
    return s.groupBy("returnflag").agg(
        F.round(
            F.min(F.when(F.col("cumw") * 2 >= F.col("totw"), F.col("price"))).cast(
                "double"
            ),
            2,
        ).alias("weighted_median"),
        F.round(F.max("totw").cast("double"), 2).alias("total_weight"),
        F.count(F.lit(1)).alias("n_rows"),
    )


MAD_K = 0.6745  # normal-consistency constant: MAD*1/0.6745 ~ sigma
MAD_TOP = 20


@query(
    "anomaly_mad_robust_zscore",
    oracle=f"""
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 8) AS med
        FROM events GROUP BY 1
    ),
    mad AS (
        SELECT e.event_type,
               round(quantile_cont(abs(e.value - m.med), 0.5), 8) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 6) AS value,
           round({MAD_K} * (e.value - m.med) / d.mad, 6) AS robust_z
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE d.mad <> 0
    ORDER BY abs(round({MAD_K} * (e.value - m.med) / d.mad, 6)) DESC,
             e.event_id ASC
    LIMIT {MAD_TOP}
    """,
)
def anomaly_mad_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-score outliers (Hampel's rule — public):
    0.6745*(x - median)/MAD, top-|z| rows. The robust sibling of
    anomaly_rolling_zscore: mean/std are themselves dragged by the
    outliers they're meant to find (masking), while median and MAD
    have 50% breakdown — the estimator survives until half the data
    is corrupt.

    Determinism: per-type median and MAD are exact interpolated
    percentiles rounded to 8 before the scoring pass; the score is one
    double expression rounded to 6, and the top-k RANKS ON THE ROUNDED
    score (then event_id) so the boundary cannot flip on sub-rounding
    noise between engines. An all-constant group (MAD 0) is excluded
    — it has no outliers by its own estimator.

    100-TB shape: two grain-collapsed percentile aggregates (type
    grain) whose outputs BROADCAST back onto one scan each — the
    two-pass median-of-deviations structure is irreducible for exact
    MAD; the scoring pass is scan + TakeOrderedAndProject. At scale
    swap exact percentiles for approx_percentile, plan unchanged."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 8).alias("med")
    )
    med = med.localCheckpoint(eager=False)  # MAD branch + scoring share it
    mad = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(abs(value - med), 0.5)"), 8).alias("mad")
        )
    )
    z = F.round(
        F.lit(MAD_K) * (F.col("value") - F.col("med")) / F.col("mad"), 6
    )
    return (
        events.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad.filter(F.col("mad") != 0)), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            z.alias("robust_z"),
        )
        .orderBy(F.abs(F.col("robust_z")).desc(), F.col("event_id").asc())
        .limit(MAD_TOP)
    )


MW_A, MW_B = "view", "purchase"  # the two compared samples


@query(
    "stats_mann_whitney",
    oracle=f"""
    WITH v AS (
        SELECT value AS x,
               sum(CASE WHEN event_type = '{MW_A}' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN event_type = '{MW_B}' THEN 1 ELSE 0 END) AS c2
        FROM events
        WHERE event_type IN ('{MW_A}', '{MW_B}') AND value IS NOT NULL
        GROUP BY value
    ),
    r AS (
        SELECT c1, c2, c1 + c2 AS ct,
               sum(c1 + c2) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - (c1 + c2) AS cumbefore
        FROM v
    ),
    agg AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 * (2 * cumbefore + ct + 1)) AS BIGINT) AS r1x2,
               CAST(sum(ct * ct * ct - ct) AS BIGINT) AS ties
        FROM r
    )
    SELECT n1, n2,
           round((r1x2 - n1 * (n1 + 1.0)) / 2.0, 6) AS u1,
           round(((r1x2 - n1 * (n1 + 1.0)) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * 1.0 * n2 / 12.0
                        * ((n1 + n2 + 1.0)
                           - ties * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0)))),
                 6) AS z
    FROM agg
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947 — public)
    comparing the value distributions of two event types, with the
    tie-corrected normal approximation — the nonparametric sibling of
    ab_test_variant_zscore (which compares MEANS and assumes them;
    this compares whole distributions through ranks and survives
    heavy tails).

    Rank arithmetic stays in INTEGERS until the final expression:
    per distinct value, the doubled average rank is
    2*cum_before + tie_count + 1 (exact), so 2*R1 is an exact integer
    sum and U, the tie term sum(t^3 - t), and z are computed from
    exact integers in one double expression rounded once.

    100-TB shape: one map-combinable value-grain aggregate; the
    prefix sum over distinct values is the classic two-pass
    distributed prefix-sum at scale (per-partition totals + offsets) —
    here a single small window; at extreme cardinality bin values
    first (the histogram discipline), which is also the statistically
    honest move for continuous data. Int64 bound (the PMI-overflow
    lesson, ADVICE r5): c1*(2*cumbefore+ct+1) grows as count x rank —
    past ~3e9 rows per sample, compute 2*R1 in DOUBLE on both engines
    (exact to 2^53, then identically rounded) or bin first; exact
    integers kept here because the oracle comparison is the point."""
    from pyspark.sql import Window

    # NULL observations are excluded on BOTH engines: they carry no
    # rank information, and Spark (NULLS FIRST) vs DuckDB (NULLS LAST)
    # would shift every prefix sum differently (found by review)
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(MW_A, MW_B) & F.col("value").isNotNull()
    )
    v = events.groupBy(F.col("value").alias("x")).agg(
        F.sum(F.when(F.col("event_type") == MW_A, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == MW_B, 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ct = F.col("c1") + F.col("c2")
    r = v.select(
        "c1",
        "c2",
        ct.alias("ct"),
        (F.sum(ct).over(w) - ct).alias("cumbefore"),
    )
    agg = r.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cumbefore") + F.col("ct") + 1)).alias(
            "r1x2"
        ),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")).alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = (F.col("r1x2") - n1 * (n1 + F.lit(1.0))) / 2.0
    sigma = F.sqrt(
        n1 * 1.0 * n2 / 12.0
        * (
            (n1 + n2 + F.lit(1.0))
            - F.col("ties") * 1.0 / ((n1 + n2) * (n1 + n2 - F.lit(1.0)))
        )
    )
    return agg.select(
        "n1",
        "n2",
        F.round(u1, 6).alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / sigma, 6).alias("z"),
    )


KS_A, KS_B = "en", "de"  # compared document slices


@query(
    "stats_ks_two_sample",
    oracle=f"""
    WITH v AS (
        SELECT n_chars AS x,
               sum(CASE WHEN lang = '{KS_A}' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN lang = '{KS_B}' THEN 1 ELSE 0 END) AS c2
        FROM documents
        WHERE lang IN ('{KS_A}', '{KS_B}') AND n_chars IS NOT NULL
        GROUP BY n_chars
    ),
    c AS (
        SELECT x,
               CAST(sum(c1) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum1,
               CAST(sum(c2) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum2,
               CAST(sum(c1) OVER () AS BIGINT) AS n1,
               CAST(sum(c2) OVER () AS BIGINT) AS n2
        FROM v
    )
    SELECT n1, n2, x AS ks_at,
           round(abs(cum1 * n2 - cum2 * n1) * 1.0 / (n1 * n2), 6) AS ks_stat,
           round(sqrt(n1 * 1.0 * n2 / (n1 + n2))
                 * (abs(cum1 * n2 - cum2 * n1) * 1.0 / (n1 * n2)), 6)
               AS ks_scaled
    FROM (
        SELECT *, row_number() OVER (
            ORDER BY abs(cum1 * n2 - cum2 * n1) DESC, x ASC) AS rn
        FROM c
    )
    WHERE rn = 1
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (Smirnov 1939 —
    public) on document length between two language slices: the max
    ECDF gap, its location, and the sqrt(n1*n2/(n1+n2))-scaled
    statistic. The distribution-drift detector for NUMERIC columns,
    complementing text_kl_domain_drift (token distributions) and
    dq_entropy_profile (categorical collapse) — the trio covers the
    three column classes a corpus monitor watches.

    Exactness device: the ECDF gap is compared as the INTEGER
    |cum1*n2 - cum2*n1| (cross-multiplied, no division), so the
    argmax is exact on both engines; division and sqrt happen once on
    the winning row. Argmax ties break on the smallest x.

    100-TB shape: one value-grain aggregate + the same prefix-sum
    note as stats_mann_whitney (two-pass at scale, binning for
    continuous data). Int64 bound: |cum1*n2 - cum2*n1| overflows past
    n1*n2 ~ 9e18 (~3e9 rows per sample) — at that scale compare the
    ECDF gap in DOUBLE on both engines or bin first (same trade as
    the MW rank sum); exact cross-multiplication kept here for the
    oracle-exact argmax."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(KS_A, KS_B) & F.col("n_chars").isNotNull()
    )  # same NULL-ordering guard as stats_mann_whitney
    v = docs.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("lang") == KS_A, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("lang") == KS_B, 1).otherwise(0)).alias("c2"),
    )
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    c = v.select(
        "x",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    gap = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    wr = Window.orderBy(gap.desc(), F.col("x").asc())
    ks = gap * 1.0 / (F.col("n1") * F.col("n2"))
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "n1",
            "n2",
            F.col("x").alias("ks_at"),
            F.round(ks, 6).alias("ks_stat"),
            F.round(
                F.sqrt(F.col("n1") * 1.0 * F.col("n2") / (F.col("n1") + F.col("n2")))
                * ks,
                6,
            ).alias("ks_scaled"),
        )
    )


XCORR_MAX_LAG = 7


@query(
    "stats_xcorr_daily",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS dy,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT l, a.x, b.y
        FROM daily a
        CROSS JOIN (SELECT unnest(generate_series(0, {XCORR_MAX_LAG})) AS l)
        JOIN daily b ON b.dy = a.dy + l * INTERVAL 1 DAY
    ),
    m AS (
        SELECT l, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM lagged GROUP BY l
    )
    SELECT l AS lag_days, n AS n_days,
           round((n * sxy - sx * sy * 1.0)
                 / sqrt((n * sxx - sx * sx * 1.0)
                        * (n * syy - sy * sy * 1.0)), 6) AS xcorr
    FROM m
    """,
)
def stats_xcorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily view-count and
    purchase-count series (lags 0..{XCORR_MAX_LAG} days): does today's
    browsing predict purchases k days out? The lead-indicator scan
    behind marketing-mix and capacity models — one Pearson correlation
    per lag, all from exact integer moment sums (the linear-fit
    moment discipline), so both engines divide identical integers
    once.

    100-TB shape: cost collapses at the first day-grain aggregate;
    the lag expansion (x {XCORR_MAX_LAG + 1}) and the self-join run on
    day-grain rows (~thousands), keyed on (day+lag) equi-join — no
    window, no cartesian."""
    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("dy"), "event_type"
    )
    daily = events.groupBy("dy").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "y"
        ),
    )
    daily = daily.localCheckpoint(eager=False)  # both sides of the lag join
    a = daily.select(
        "dy", "x", F.explode(F.sequence(F.lit(0), F.lit(XCORR_MAX_LAG))).alias("l")
    ).withColumn("target_dy", F.expr("timestampadd(DAY, l, dy)"))
    lagged = a.join(
        daily.select(F.col("dy").alias("target_dy"), "y"), "target_dy"
    )
    m = lagged.groupBy("l").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy * 1.0
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx * 1.0) * (n * F.col("syy") - sy * sy * 1.0)
    )
    return m.select(
        F.col("l").alias("lag_days"),
        F.col("n").alias("n_days"),
        F.round(num / den, 6).alias("xcorr"),
    )


STL_HALF = 3  # centered moving-average half-width: 7-day trend window


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS v
        FROM events GROUP BY 1
    ),
    t AS (
        SELECT day, v,
               CASE WHEN count(*) OVER w = {2 * STL_HALF + 1} THEN
                   CAST(round(CAST(sum(v) OVER w AS DOUBLE)
                              / {2 * STL_HALF + 1}, 8)
                        AS DECIMAL(18,8)) END AS trend
        FROM daily
        WINDOW w AS (ORDER BY day
            ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
    ),
    s AS (
        SELECT CAST(isodow(day) AS INT) AS dow,
               CAST(round(CAST(sum(v - trend) AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS seasonal
        FROM t WHERE trend IS NOT NULL GROUP BY 1
    )
    SELECT t.day, CAST(isodow(t.day) AS INT) AS dow,
           round(CAST(t.v AS DOUBLE), 6) AS value,
           round(CAST(t.trend AS DOUBLE), 6) AS trend,
           round(CAST(s.seasonal AS DOUBLE), 6) AS seasonal,
           round(CAST(t.v - t.trend - s.seasonal AS DOUBLE), 6) AS residual
    FROM t LEFT JOIN s ON CAST(isodow(t.day) AS INT) = s.dow
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily value
    series (the moving-average method behind STL's first pass —
    Cleveland et al. 1990, public): value = trend (centered 7-day
    moving average, defined only where the full window exists) +
    day-of-week seasonal (mean of the detrended series per ISO
    weekday) + residual. The monitoring decomposition that separates
    "weekends are always low" from "something actually changed" —
    the residual is what anomaly detectors should score, complementing
    anomaly_cusum_changepoint (level shifts) and window_ewma_daily
    (smoothing).

    Determinism: daily means are exact-decimal; the trend window sums
    decimals exactly and rounds to 8; seasonal means are exact-decimal
    sums of (v - trend) differences; every output rounds once. Edge
    days (incomplete trend window) carry NULL trend/residual on both
    engines rather than a silently-shorter moving average.

    100-TB shape: cost collapses at the day-grain aggregate (one
    map-combinable exchange); the moving-average window, the
    7-row seasonal aggregate, and the dow join all run on day-grain
    rows — the same grain-collapse discipline as the CUSUM monitor.
    Weekday alignment is pinned to ISO (Spark weekday()+1 == DuckDB
    isodow) because the engines' default dayofweek disagree on
    Sunday."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "value"
    )
    daily = events.groupBy("day").agg(decimal_mean8("value").alias("v"))
    wma = Window.orderBy("day").rowsBetween(-STL_HALF, STL_HALF)
    width = 2 * STL_HALF + 1
    t = daily.select(
        "day",
        "v",
        F.when(
            F.count(F.lit(1)).over(wma) == width,
            F.round(F.sum("v").over(wma).cast("double") / width, 8).cast(
                "decimal(18,8)"
            ),
        ).alias("trend"),
    )
    t = t.localCheckpoint(eager=False)  # seasonal + output share one frame
    dow = (F.weekday(F.col("day")) + 1).cast("int")
    s = (
        t.filter(F.col("trend").isNotNull())
        .groupBy(dow.alias("dow"))
        .agg(
            F.round(
                F.sum(F.col("v") - F.col("trend")).cast("double")
                / F.count(F.lit(1)),
                8,
            )
            .cast("decimal(18,8)")
            .alias("seasonal")
        )
    )
    return (
        t.withColumn("dow", dow)
        .join(F.broadcast(s), "dow", "left")
        .select(
            "day",
            "dow",
            F.round(F.col("v").cast("double"), 6).alias("value"),
            F.round(F.col("trend").cast("double"), 6).alias("trend"),
            F.round(F.col("seasonal").cast("double"), 6).alias("seasonal"),
            F.round(
                (F.col("v") - F.col("trend") - F.col("seasonal")).cast("double"),
                6,
            ).alias("residual"),
        )
    )


TRIAGE_Z = 3.5  # Hampel alarm threshold on the residual robust z
TRIAGE_TOP = 3  # ranked triage queue depth per event type


@query(
    "pipeline_anomaly_triage",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS v
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, day, v,
               CASE WHEN count(*) OVER w = {2 * STL_HALF + 1} THEN
                   CAST(round(CAST(sum(v) OVER w AS DOUBLE)
                              / {2 * STL_HALF + 1}, 8)
                        AS DECIMAL(18,8)) END AS trend
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
    ),
    r AS (
        SELECT event_type, day, v, v - trend AS resid
        FROM t WHERE trend IS NOT NULL
    ),
    med AS (
        SELECT event_type, round(quantile_cont(CAST(resid AS DOUBLE), 0.5), 8)
                   AS med
        FROM r GROUP BY 1
    ),
    mad AS (
        SELECT r.event_type,
               round(quantile_cont(abs(CAST(r.resid AS DOUBLE) - m.med), 0.5),
                     8) AS mad
        FROM r JOIN med m USING (event_type)
        GROUP BY 1
    ),
    scored AS (
        SELECT r.event_type, r.day,
               round(CAST(r.v AS DOUBLE), 6) AS value,
               round(CAST(r.resid AS DOUBLE), 6) AS residual,
               round({MAD_K} * (CAST(r.resid AS DOUBLE) - m.med) / d.mad, 6)
                   AS robust_z
        FROM r
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE d.mad <> 0
    )
    SELECT event_type, day, value, residual, robust_z,
           (abs(robust_z) > {TRIAGE_Z}) AS is_alarm
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY abs(robust_z) DESC, day ASC) AS rn
        FROM scored
    )
    WHERE rn <= {TRIAGE_TOP}
    """,
)
def pipeline_anomaly_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed anomaly triage in ONE Catalyst plan — the monitoring
    pipeline the seasonal-decompose docstring prescribes, actually
    wired: per-type daily means -> centered 7-day moving-average trend
    -> residuals -> Hampel MAD fences ON THE RESIDUALS -> the top-3
    days per type ranked by |robust z|, with is_alarm marking scores
    past {TRIAGE_Z} (triage queues are RANKED, not thresholded — a
    threshold-only report is empty on a healthy corpus, which is
    exactly when an on-call wants the closest-to-alarm days).
    De-trending first is the point: a
    raw-value detector fires on every seasonal peak; scoring the
    residual fires only on days that deviate from their own local
    level (the composition of ts_seasonal_decompose's trend stage and
    anomaly_mad_robust_zscore's scoring stage, sharing their exact
    determinism devices — decimal_mean8 daily means, round-8 exact
    percentiles, rounded-score threshold comparison).

    100-TB shape: cost collapses at the (type, day) aggregate; the MA
    window, both percentile reduces, and the flag filter all run at
    day grain. One fact-scale exchange total."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day"), "value"
    )
    daily = events.groupBy("event_type", "day").agg(decimal_mean8("value").alias("v"))
    wma = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    width = 2 * STL_HALF + 1
    t = daily.select(
        "event_type",
        "day",
        "v",
        F.when(
            F.count(F.lit(1)).over(wma) == width,
            F.round(F.sum("v").over(wma).cast("double") / width, 8).cast(
                "decimal(18,8)"
            ),
        ).alias("trend"),
    )
    r = t.filter(F.col("trend").isNotNull()).select(
        "event_type", "day", "v", (F.col("v") - F.col("trend")).alias("resid")
    )
    r = r.localCheckpoint(eager=False)  # med + mad + scoring share it
    med = r.groupBy("event_type").agg(
        F.round(F.expr("percentile(CAST(resid AS DOUBLE), 0.5)"), 8).alias("med")
    )
    med = med.localCheckpoint(eager=False)
    mad = (
        r.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("percentile(abs(CAST(resid AS DOUBLE) - med), 0.5)"), 8
            ).alias("mad")
        )
    )
    z = F.round(
        F.lit(MAD_K)
        * (F.col("resid").cast("double") - F.col("med"))
        / F.col("mad"),
        6,
    )
    scored = (
        r.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad.filter(F.col("mad") != 0)), "event_type")
        .withColumn("robust_z", z)
        .select(
            "event_type",
            "day",
            F.round(F.col("v").cast("double"), 6).alias("value"),
            F.round(F.col("resid").cast("double"), 6).alias("residual"),
            "robust_z",
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("robust_z")).desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TRIAGE_TOP)
        .select(
            "event_type",
            "day",
            "value",
            "residual",
            "robust_z",
            (F.abs(F.col("robust_z")) > TRIAGE_Z).alias("is_alarm"),
        )
    )


PSI_BINS = 10  # decile bins fit on the reference window
PSI_EPS = 1e-6  # zero-bin smoothing, identical on both engines


@query(
    "stats_psi_drift",
    oracle=f"""
    WITH base AS (
        SELECT value,
               (2 * epoch_us(ts) <
                (SELECT min(epoch_us(ts)) + max(epoch_us(ts)) FROM events
                 WHERE value IS NOT NULL)) AS is_ref
        FROM events WHERE value IS NOT NULL
    ),
    cuts AS (
        SELECT generate_subscripts(cs, 1) AS bin,
               round(unnest(cs), 8) AS hi
        FROM (SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
              FROM base WHERE is_ref)
    ),
    binned AS (
        SELECT b.is_ref,
               CAST(coalesce(min(c.bin), {PSI_BINS}) AS INT) AS bin
        FROM (SELECT row_number() OVER () AS rid, * FROM base) b
        LEFT JOIN cuts c ON b.value <= c.hi
        GROUP BY b.rid, b.is_ref
    ),
    cnt AS (
        SELECT bin,
               sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
               sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc,
               sum(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)) OVER () AS tr,
               sum(sum(CASE WHEN is_ref THEN 0 ELSE 1 END)) OVER () AS tc
        FROM binned GROUP BY bin
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
           round((nc * 1.0 / tc + {PSI_EPS}) - (nr * 1.0 / tr + {PSI_EPS}), 6)
               AS frac_delta,
           round(((nc * 1.0 / tc + {PSI_EPS}) - (nr * 1.0 / tr + {PSI_EPS}))
                 * ln((nc * 1.0 / tc + {PSI_EPS})
                      / (nr * 1.0 / tr + {PSI_EPS})), 6) AS psi_term
    FROM cnt
    """,
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream (the model-monitoring standard — public):
    decile cut points are FIT ON THE REFERENCE half only (the deployed
    model's view of the world), both halves are binned against them,
    and each bin contributes (p_cur - p_ref)*ln(p_cur/p_ref). PSI
    completes the drift trio with a different question than KS
    (max ECDF gap: is there ANY drift?) and KL-on-tokens (which
    domain): PSI's per-bin terms say WHERE in the distribution the
    mass moved, in the banded units (0.1/0.25) risk teams alert on.

    Determinism: reference deciles are exact percentiles rounded to 8;
    binning compares against those fixed cuts; fractions divide exact
    integers; epsilon smoothing uses the identical literal on both
    engines. Bin = count of cuts at-or-below the value (the
    equi-depth-histogram device), so ties at a cut bind identically.

    100-TB shape: one percentile reduce on the reference half (swap in
    approx_percentile at scale, plan unchanged), the {PSI_BINS - 1}
    cut rows broadcast onto one scan for binning, and a
    {PSI_BINS}-row aggregate."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # division-free midpoint test on exact integer microseconds: the
    # same 2*t < min+max comparison on both engines (a seconds-granular
    # cast vs DuckDB's exact timestamp midpoint mis-binned edge events)
    us = F.unix_micros(F.col("ts"))
    mid = events.agg(
        (F.min(us) + F.max(us)).alias("mm")
    )
    base = events.crossJoin(F.broadcast(mid)).select(
        "value", (2 * us < F.col("mm")).alias("is_ref")
    )
    base = base.localCheckpoint(eager=False)  # cuts + binning share it
    ref = base.filter("is_ref")
    # the 9 reference deciles are a bounded driver-side scalar list
    # (the PageRank node-count / NB vocab-size precedent): folding
    # them in as literals makes the binning a pure row expression —
    # bin = 1 + #(cuts strictly below value), identical to the
    # oracle's min-matching-cut formulation including ties at a cut
    binned = base.select(
        "is_ref", psi_bin_expr(psi_decile_cuts(ref)).alias("bin")
    )
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("nr"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("nc"),
    )
    return psi_from_bin_counts(cnt)


def psi_decile_cuts(ref: DataFrame) -> list:
    """The PSI_BINS-1 reference decile cuts as a bounded driver-side
    list (round-8, the literal-fold device) — shared by the batch
    query above and the streaming monitor (streaming/runtime.py
    run_psi_sink) so both bin against identical fences."""
    fracs = ", ".join(str(i / PSI_BINS) for i in range(1, PSI_BINS))
    rows = (
        ref.agg(F.expr(f"percentile(value, array({fracs}))").alias("cs"))
        .select(F.posexplode("cs").alias("pos", "c"))
        .select(F.round("c", 8).alias("hi"))
        .collect()
    )
    return [r.hi for r in rows]


def psi_bin_expr(cuts: list):
    """bin = 1 + #(cuts strictly below value) over literal fences —
    identical tie behavior to the oracle's min-matching-cut form."""
    e = F.lit(1)
    for hi in cuts:
        e = e + F.when(F.col("value") > hi, 1).otherwise(0)
    return e.cast("int")


def psi_from_bin_counts(cnt: DataFrame) -> DataFrame:
    """PSI output columns from a (bin, nr, nc) frame — the shared tail
    of the batch query and the streaming monitor's read side, so the
    smoothing/rounding expressions cannot drift between them."""
    from pyspark.sql import Window

    wall = Window.partitionBy()
    t = cnt.select(
        "bin",
        "nr",
        "nc",
        F.sum("nr").over(wall).alias("tr"),
        F.sum("nc").over(wall).alias("tc"),
    )
    p_cur = F.col("nc") * 1.0 / F.col("tc") + PSI_EPS
    p_ref = F.col("nr") * 1.0 / F.col("tr") + PSI_EPS
    return t.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("nr").cast("long").alias("n_ref"),
        F.col("nc").cast("long").alias("n_cur"),
        F.round(p_cur - p_ref, 6).alias("frac_delta"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


@query(
    "stats_spearman_rank_corr",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts) AS dy,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    r0 AS (
        SELECT x, y,
               CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS kx,
               CAST(row_number() OVER (ORDER BY y) AS BIGINT) AS ky
        FROM d
    ),
    r AS (
        SELECT CAST(avg(kx) OVER (PARTITION BY x) AS DOUBLE) AS rx,
               CAST(avg(ky) OVER (PARTITION BY y) AS DOUBLE) AS ry
        FROM r0
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(rx AS DECIMAL(28,12))) AS sx,
               sum(CAST(ry AS DECIMAL(28,12))) AS sy,
               sum(CAST(rx * ry AS DECIMAL(28,12))) AS sxy,
               sum(CAST(rx * rx AS DECIMAL(28,12))) AS sxx,
               sum(CAST(ry * ry AS DECIMAL(28,12))) AS syy
        FROM r
    )
    SELECT n AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS spearman_rho
    FROM s
    """,
)
def stats_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the daily view-count and
    purchase-count series (Spearman 1904 — public): Pearson on
    MIDRANKS, so one viral outlier day cannot manufacture correlation
    the way it can in stats_xcorr_daily's raw Pearson (the robust
    member of the correlation family, next to agg_stats_corr and the
    lagged cross-correlation). Midranks handle count ties exactly
    (row_number averaged per tie VALUE — the mean of the distinct
    positions IS the midrank and is invariant to the arbitrary tie
    order; rank()'s min-rank would NOT average to the midrank — the
    same midrank semantics as stats_mann_whitney, via a per-value
    window instead of a prefix sum).

    Determinism: ranks are exact integers; midranks are exact
    small-denominator rationals in double; moment sums follow the
    zipf/linear-fit decimal discipline; one division at the end.

    100-TB shape: cost collapses at the day-grain aggregate; the rank
    windows run on day-grain rows (the CUSUM grain-collapse
    discipline)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("dy"), "event_type"
    )
    d = events.groupBy("dy").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "y"
        ),
    )
    r0 = d.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x")).cast("long").alias("kx"),
        F.row_number().over(Window.orderBy("y")).cast("long").alias("ky"),
    )
    r = r0.select(
        F.avg("kx").over(Window.partitionBy("x")).cast("double").alias("rx"),
        F.avg("ky").over(Window.partitionBy("y")).cast("double").alias("ry"),
    )
    dec = "decimal(28,12)"
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx").cast(dec)).alias("sx"),
        F.sum(F.col("ry").cast(dec)).alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast(dec)).alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast(dec)).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(dec)).alias("syy"),
    )
    n = F.col("n")
    return s.select(
        n.alias("n_days"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            ),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "agg_pythagorean_means",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
                      AS DOUBLE) / count(*), 6) AS mean_arith,
           round(exp(CAST(sum(CAST(round(ln(l_quantity), 12)
                                   AS DECIMAL(28,12))) AS DOUBLE)
                     / count(*)), 6) AS mean_geom,
           round(count(*) / CAST(sum(CAST(round(1.0 / l_quantity, 12)
                                          AS DECIMAL(28,12))) AS DOUBLE),
                 6) AS mean_harm
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_returnflag
    """,
)
def agg_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three Pythagorean means per group in ONE aggregate pass:
    arithmetic (the default), geometric (the only correct way to
    average RATIOS/growth rates — exp of the mean log, the PageRank
    product-as-log-sum trick as an aggregate), and harmonic (the only
    correct way to average RATES — F1 scores, price/earnings, items
    per second). AM >= GM >= HM always; the gap measures spread.
    Positive-domain guard on both engines (log/reciprocal).

    Determinism: each mean's accumulator is an exact DECIMAL sum of
    identically rounded terms (raw quantities, round-12 logs, round-12
    reciprocals); divisions and exp happen once per group.

    100-TB shape: one map-side-combinable hash aggregate, flag
    grain. Nothing else."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round("l_quantity", 2).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_arith"),
        F.round(
            F.exp(
                F.sum(
                    F.round(F.log("l_quantity"), 12).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("mean_geom"),
        F.round(
            F.count(F.lit(1))
            / F.sum(
                F.round(F.lit(1.0) / F.col("l_quantity"), 12).cast(
                    "decimal(28,12)"
                )
            ).cast("double"),
            6,
        ).alias("mean_harm"),
    )


# ----------------------------------------- Theil-Sen robust trend
# The robust-statistics family (MAD z-scores, IQR fences, weighted
# median) lacked its REGRESSION member: OLS slopes (the closed-form
# linear fit above) are pulled arbitrarily far by one bad day, while
# the Theil-Sen estimator — median of all pairwise slopes — has a 29%
# breakdown point. Both slopes are emitted side by side; divergence
# IS the outlier diagnostic.
#
# Scale shape: the series collapses to DAY grain first (the CUSUM
# discipline), so the pairwise slope space is O(days²) per type —
# bounded by the time range (3650 days of history = 6.6M pairs),
# NEVER by data volume; the pair join is co-partitioned on the type
# key. Determinism: daily means are the shared decimal_mean8; slopes
# are rounded(8) so both engines sort identical values and the median
# of an even count averages the two middle values exactly.


def _median_expr(val: str, rn: str, n: str) -> str:
    """SQL median over a (value, row_number, count) ranked relation —
    avg of the two middle values (equal for odd counts)."""
    return (
        f"CAST(round(avg(CASE WHEN {rn} IN (({n} + 1) // 2, ({n} + 2) // 2) "
        f"THEN {val} END), 8) AS DOUBLE)"
    )


@query(
    "ml_theil_sen_trend",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS m
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, m,
               date_diff('day',
                         min(day) OVER (PARTITION BY event_type), day) AS t
        FROM daily
    ),
    slopes AS (
        SELECT a.event_type,
               round((CAST(b.m AS DOUBLE) - CAST(a.m AS DOUBLE))
                     / (b.t - a.t), 8) AS s
        FROM idx a JOIN idx b
          ON a.event_type = b.event_type AND a.t < b.t
    ),
    ranked AS (
        SELECT event_type, s,
               row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM slopes
    ),
    ts_med AS (
        SELECT event_type,
               {_median_expr("s", "rn", "n")} AS theil_sen_slope,
               CAST(max(n) AS BIGINT) AS n_pairs
        FROM ranked GROUP BY event_type
    ),
    ols AS (
        SELECT event_type,
               round((count(*) * sum(t * CAST(m AS DOUBLE))
                      - sum(t) * sum(CAST(m AS DOUBLE)))
                     / (count(*) * sum(t * t) - sum(t) * sum(t)), 8)
                   AS ols_slope
        FROM idx GROUP BY event_type
    )
    SELECT t.event_type, t.theil_sen_slope, o.ols_slope, t.n_pairs
    FROM ts_med t JOIN ols o ON t.event_type = o.event_type
    ORDER BY t.event_type
    """,
)
def ml_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen (median-of-pairwise-slopes) daily trend per event
    type, with the OLS slope alongside (block comment above)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(decimal_mean8("value").alias("m"))
    # lazy cut: idx feeds both pairwise-slope self-join sides AND the
    # OLS aggregate — uncut, each re-ran the daily fact aggregate +
    # window (observed: 3 events scans; guide §1.2). Day-grain rows.
    idx = daily.select(
        "event_type",
        "m",
        F.datediff(
            F.col("day"), F.min("day").over(Window.partitionBy("event_type"))
        ).alias("t"),
    ).localCheckpoint(eager=False)
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.round(
            (F.col("b.m").cast("double") - F.col("a.m").cast("double"))
            / (F.col("b.t") - F.col("a.t")),
            8,
        ).alias("s"),
    )
    w = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(w.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    ts_med = (
        ranked.groupBy("event_type")
        .agg(
            F.round(
                F.avg(
                    F.when(
                        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
                        | (F.col("rn") == F.floor((F.col("n") + 2) / 2)),
                        F.col("s"),
                    )
                ),
                8,
            )
            .cast("double")
            .alias("theil_sen_slope"),
            F.max("n").cast("long").alias("n_pairs"),
        )
    )
    md = F.col("m").cast("double")
    ols = idx.groupBy("event_type").agg(
        F.round(
            (F.count(F.lit(1)) * F.sum(F.col("t") * md) - F.sum("t") * F.sum(md))
            / (
                F.count(F.lit(1)) * F.sum(F.col("t") * F.col("t"))
                - F.sum("t") * F.sum("t")
            ),
            8,
        ).alias("ols_slope")
    )
    return (
        ts_med.join(ols, "event_type")
        .select("event_type", "theil_sen_slope", "ols_slope", "n_pairs")
        .orderBy("event_type")
    )


# ------------------------------------- forecast backtest (MASE)
# ts_seasonal_decompose DESCRIBES a series; nothing yet EVALUATES a
# forecast on it. The standard baseline + metric pair: seasonal-naive
# forecast (y^(t) = y(t-7), the forecast every model must beat) scored
# by MASE (Hyndman-Koehler 2006) — test MAE scaled by the TRAIN
# seasonal-naive MAE, so it is unit-free and defined even when the
# series touches zero (unlike MAPE). MASE < 1 = beats the baseline
# ON TRAIN difficulty; the seasonal-naive forecast itself scoring
# near 1 is the sanity anchor.
#
# Scale shape: day-grain collapse, then one 7-day date-shift
# self-join per split (gap-robust: joins on day = day - 7 DATES, not
# row lags). Everything after the collapse is O(days). Split: the
# last FC_H days per type are test, the rest train.

FC_H = 7
FC_SEASON = 7


@query(
    "ts_forecast_baseline_mase",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(round(CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8)))
                               AS DOUBLE) / count(*), 8)
                    AS DECIMAL(18,8)) AS m
        FROM events GROUP BY 1, 2
    ),
    lim AS (
        SELECT event_type, day, m,
               max(day) OVER (PARTITION BY event_type) AS mx
        FROM daily
    ),
    nav AS (
        SELECT c.event_type, c.day, c.m, p.m AS yhat, c.mx
        FROM lim c JOIN lim p
          ON c.event_type = p.event_type
         AND p.day = c.day - INTERVAL 7 DAY
    ),
    scored AS (
        SELECT event_type,
               day > mx - INTERVAL {FC_H} DAY AS is_test,
               -- exact-decimal absolute errors: averages below are
               -- decimal-sum / count, order-independent cross-engine
               CAST(round(abs(CAST(m AS DOUBLE) - CAST(yhat AS DOUBLE)), 8)
                    AS DECIMAL(18,8)) AS ae
        FROM nav
    )
    SELECT event_type,
           round((CAST(sum(CASE WHEN is_test THEN ae END) AS DOUBLE)
                  / sum(CASE WHEN is_test THEN 1 ELSE 0 END))
                 / (CAST(sum(CASE WHEN NOT is_test THEN ae END) AS DOUBLE)
                    / sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END)), 6) AS mase,
           round(CAST(sum(CASE WHEN is_test THEN ae END) AS DOUBLE)
                 / sum(CASE WHEN is_test THEN 1 ELSE 0 END), 6) AS mae_test,
           CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ts_forecast_baseline_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type, scored by
    MASE (block comment above)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(decimal_mean8("value").alias("m"))
    lim = daily.withColumn(
        "mx", F.max("day").over(Window.partitionBy("event_type"))
    )
    c, p = lim.alias("c"), lim.alias("p")
    nav = c.join(
        p,
        (F.col("c.event_type") == F.col("p.event_type"))
        & (F.col("p.day") == F.col("c.day") - F.expr(f"INTERVAL {FC_SEASON} DAY")),
    ).select(
        F.col("c.event_type").alias("event_type"),
        F.col("c.day").alias("day"),
        F.col("c.mx").alias("mx"),
        (F.col("c.day") > F.col("c.mx") - F.expr(f"INTERVAL {FC_H} DAY")).alias("is_test"),
        F.round(
            F.abs(F.col("c.m").cast("double") - F.col("p.m").cast("double")), 8
        )
        .cast("decimal(18,8)")
        .alias("ae"),
    )
    n_test = F.sum(F.when(F.col("is_test"), 1).otherwise(0))
    n_train = F.sum(F.when(~F.col("is_test"), 1).otherwise(0))
    t_ae = F.sum(F.when(F.col("is_test"), F.col("ae"))).cast("double") / n_test
    r_ae = F.sum(F.when(~F.col("is_test"), F.col("ae"))).cast("double") / n_train
    return (
        nav.groupBy("event_type")
        .agg(
            F.round(t_ae / r_ae, 6).alias("mase"),
            F.round(t_ae, 6).alias("mae_test"),
            n_test.cast("long").alias("n_test"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- CUPED variance reduction
# ab_test_variant_zscore (above) tests a difference in means; CUPED
# (Deng et al. 2013, "Improving the Sensitivity of Online Controlled
# Experiments") is how real experimentation platforms SHRINK the
# variance of that test before it runs: adjust each user's
# experiment-period metric by their PRE-period metric,
# y' = y - theta*(x - mean(x)) with theta = cov(x,y)/var(x); the
# adjusted metric has variance var(y)(1 - rho²) — often a 30-50% cut,
# i.e. the same power from half the traffic. This operator measures
# theta and the achieved reduction per event type over a
# first-half/second-half time split.
#
# Scale + determinism: one (type, user) aggregate with conditional
# decimal sums builds the (pre, post) pairs; all second moments are
# exact decimal products (18,8)x(18,8) -> (37,16), summed exactly;
# the theta/variance ratios are then identical doubles on both
# engines. A zero-variance pre-period NULLs theta via the shared
# nullif guard rather than dividing by zero.

CUPED_SPLIT_DAYS = 15


@query(
    "ab_cuped_adjustment",
    oracle=f"""
    WITH lim AS (
        SELECT event_type, user_id, value,
               date_trunc('day', ts) AS day,
               min(date_trunc('day', ts)) OVER (PARTITION BY event_type)
                   AS d0
        FROM events
    ),
    per_user AS (
        SELECT event_type, user_id,
               sum(CASE WHEN day < d0 + INTERVAL {CUPED_SPLIT_DAYS} DAY
                        THEN CAST(round(value, 8) AS DECIMAL(18,8))
                        ELSE CAST(0 AS DECIMAL(18,8)) END) AS x,
               sum(CASE WHEN day >= d0 + INTERVAL {CUPED_SPLIT_DAYS} DAY
                        THEN CAST(round(value, 8) AS DECIMAL(18,8))
                        ELSE CAST(0 AS DECIMAL(18,8)) END) AS y
        FROM lim GROUP BY 1, 2
    ),
    mo AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * y AS DECIMAL(38,16))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x * x AS DECIMAL(38,16))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,16))) AS DOUBLE) AS syy
        FROM per_user GROUP BY 1
    )
    SELECT event_type, n AS n_users,
           round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 8)
               AS theta,
           round((n * syy - sy * sy) / (CAST(n AS DOUBLE) * (n - 1)), 6)
               AS var_post,
           round(((n * syy - sy * sy)
                  - (n * sxy - sx * sy) * (n * sxy - sx * sy)
                    / nullif(n * sxx - sx * sx, 0))
                 / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_cuped,
           round(100.0 * ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 4)
               AS var_reduction_pct
    FROM mo
    ORDER BY event_type
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED theta and achieved variance reduction per event type
    (block comment above)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    lim = events.select(
        "event_type",
        "user_id",
        "value",
        F.date_trunc("day", "ts").alias("day"),
    ).withColumn("d0", F.min("day").over(Window.partitionBy("event_type")))
    cut = F.col("d0") + F.expr(f"INTERVAL {CUPED_SPLIT_DAYS} DAY")
    vdec = F.round("value", 8).cast("decimal(18,8)")
    zero = F.lit(0).cast("decimal(18,8)")
    per_user = lim.groupBy("event_type", "user_id").agg(
        F.sum(F.when(F.col("day") < cut, vdec).otherwise(zero)).alias("x"),
        F.sum(F.when(F.col("day") >= cut, vdec).otherwise(zero)).alias("y"),
    )
    mo = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,16)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,16)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,16)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    return mo.select(
        "event_type",
        n.alias("n_users"),
        F.round(cov_n / F.nullif(varx_n, F.lit(0)), 8).alias("theta"),
        F.round(vary_n / (n.cast("double") * (n - 1)), 6).alias("var_post"),
        F.round(
            (vary_n - cov_n * cov_n / F.nullif(varx_n, F.lit(0)))
            / (n.cast("double") * (n - 1)),
            6,
        ).alias("var_cuped"),
        F.round(
            100.0 * (cov_n * cov_n) / F.nullif(varx_n * vary_n, F.lit(0)), 4
        ).alias("var_reduction_pct"),
    ).orderBy("event_type")


# --------------------------------------- split-conformal intervals
# The linear fit (ml_linear_fit_closed_form) gives a point estimate;
# split conformal prediction (Papadopoulos et al. 2002, Lei et al.
# 2018) wraps ANY point model in a distribution-free interval with
# finite-sample coverage >= 1-alpha, assuming only exchangeability:
# fit on a train split, take the ceil((n_cal+1)(1-alpha))-th smallest
# absolute residual on a CALIBRATION split as the half-width q, and
# |y - y^| <= q then covers >= 1-alpha on fresh data. The operator
# emits q and the measured held-out coverage — the ML-eval primitive
# for "how wrong can this model be, with a guarantee".
#
# Scale + determinism: the 3-way split is the md5-systematic device
# (reproducible, repartition-proof); the OLS coefficients come from
# exact decimal moments and are rounded(8) before EITHER engine
# scores a residual; q is an order statistic picked by rank over
# rounded residuals (ties carry equal values — rank choice can't
# change the value); per-flag model frames broadcast onto the
# scoring scans. Everything is one fact pass per split.

CONF_ALPHA = 0.1


@query(
    "ml_conformal_interval",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y,
               substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                          || CAST(l_linenumber AS VARCHAR)), 1, 1) AS h,
               md5(CAST(l_orderkey AS VARCHAR) || '-'
                   || CAST(l_linenumber AS VARCHAR)) AS hk
        FROM lineitem
    ),
    mo AS (
        SELECT flag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
               CAST(sum(CAST(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,4))
                             AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))
                             AS DECIMAL(38,4))) AS DOUBLE) AS sxx
        FROM base WHERE h BETWEEN '0' AND '7'
        GROUP BY flag
    ),
    model AS (
        SELECT flag, n AS n_train,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope,
               round((sy - round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8)
                      * sx) / n, 8) AS icept
        FROM mo
    ),
    cal AS (
        SELECT b.flag,
               round(abs(b.y - (m.slope * b.x + m.icept)), 6) AS r,
               b.hk
        FROM base b JOIN model m ON b.flag = m.flag
        WHERE b.h BETWEEN '8' AND 'b'
    ),
    calr AS (
        SELECT flag, r,
               row_number() OVER (PARTITION BY flag ORDER BY r, hk) AS rn,
               count(*) OVER (PARTITION BY flag) AS nc
        FROM cal
    ),
    q AS (
        SELECT flag, CAST(max(nc) AS BIGINT) AS n_cal,
               max(CASE WHEN rn = least(CAST(ceil((nc + 1) * {1 - CONF_ALPHA})
                                             AS BIGINT), nc)
                        THEN r END) AS q90
        FROM calr GROUP BY flag
    ),
    test AS (
        SELECT b.flag,
               CASE WHEN round(abs(b.y - (m.slope * b.x + m.icept)), 6)
                         <= q.q90 THEN 1 ELSE 0 END AS hit
        FROM base b
        JOIN model m ON b.flag = m.flag
        JOIN q ON b.flag = q.flag
        WHERE b.h > 'b'
    ),
    cov AS (
        SELECT flag, CAST(count(*) AS BIGINT) AS n_test,
               round(sum(hit) * 1.0 / count(*), 6) AS coverage
        FROM test GROUP BY flag
    )
    SELECT m.flag AS returnflag, m.slope, m.icept, q.q90,
           c.coverage, m.n_train, q.n_cal, c.n_test
    FROM model m JOIN q ON m.flag = q.flag JOIN cov c ON m.flag = c.flag
    ORDER BY returnflag
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval around the per-returnflag
    price~quantity OLS fit, with measured held-out coverage (block
    comment above)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    hk = F.md5(
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        hk.alias("hk"),
        F.substring(hk, 1, 1).alias("h"),
    )
    # lazy lineage cuts (guide §1.2): base feeds the train moments,
    # the calibration residuals and the test coverage (3 fact scans
    # -> 1, md5 split key computed once); the flag-count-sized model
    # and q frames fan out to every downstream join/broadcast —
    # uncut, each re-derivation re-ran its whole upstream including
    # another fact scan (observed: 7 lineitem scans in the plan).
    base = base.localCheckpoint(eager=False)
    xd = F.col("x").cast("decimal(18,2)")
    yd = F.col("y").cast("decimal(18,4)")
    mo = (
        base.filter(F.col("h").between("0", "7"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(xd).cast("double").alias("sx"),
            F.sum(yd).cast("double").alias("sy"),
            F.sum((xd * yd).cast("decimal(38,6)")).cast("double").alias("sxy"),
            F.sum((xd * xd).cast("decimal(38,4)")).cast("double").alias("sxx"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = F.round((n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx), 8)
    model = mo.select(
        "flag",
        n.alias("n_train"),
        slope.alias("slope"),
        F.round((sy - slope * sx) / n, 8).alias("icept"),
    ).localCheckpoint(eager=False)
    resid = F.round(F.abs(F.col("y") - (F.col("slope") * F.col("x") + F.col("icept"))), 6)
    cal = (
        base.filter(F.col("h").between("8", "b"))
        .join(F.broadcast(model), "flag")
        .select("flag", resid.alias("r"), "hk")
    )
    w = Window.partitionBy("flag")
    calr = cal.select(
        "flag",
        "r",
        F.row_number().over(w.orderBy("r", "hk")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("nc"),
    )
    q_rank = F.least(
        F.ceil((F.col("nc") + 1) * F.lit(1 - CONF_ALPHA)).cast("long"), F.col("nc")
    )
    q = calr.groupBy("flag").agg(
        F.max("nc").cast("long").alias("n_cal"),
        F.max(F.when(F.col("rn") == q_rank, F.col("r"))).alias("q90"),
    ).localCheckpoint(eager=False)
    test = (
        base.filter(F.col("h") > "b")
        .join(F.broadcast(model), "flag")
        .join(F.broadcast(q), "flag")
        .select("flag", F.when(resid <= F.col("q90"), 1).otherwise(0).alias("hit"))
    )
    cov = test.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(F.sum("hit") / F.count(F.lit(1)), 6).alias("coverage"),
    )
    return (
        model.join(q, "flag")
        .join(cov, "flag")
        .select(
            F.col("flag").alias("returnflag"),
            "slope",
            "icept",
            "q90",
            "coverage",
            "n_train",
            "n_cal",
            "n_test",
        )
        .orderBy("returnflag")
    )


# ------------------------------------------- difference-in-differences
# The causal member of the experiment family: when assignment isn't
# randomized per event but a change lands at a known TIME, the
# two-group x two-period contrast (Card-Krueger style DiD) removes
# both the stable group difference and the common time trend:
# DiD = (T_post - T_pre) - (C_post - C_pre). Groups here are the
# hash-assignment convention shared with ab_test_variant_zscore
# (user_id % 2), the period cut is the CUPED split day — so the three
# experiment operators (z-test, CUPED, DiD) read the same synthetic
# experiment three ways.
#
# One map-combinable aggregate to the (type, variant, period) grain
# (12 cells), pivoted by conditional decimal sums — scan-shaped at
# any scale. Exact-decimal means, round(6) on every emitted cell.


@query(
    "stats_diff_in_diff",
    oracle=f"""
    WITH lim AS (
        SELECT event_type,
               CAST(user_id % 2 AS INT) AS treated,
               CASE WHEN date_trunc('day', ts)
                         >= min(date_trunc('day', ts))
                                OVER (PARTITION BY event_type)
                            + INTERVAL {CUPED_SPLIT_DAYS} DAY
                    THEN 1 ELSE 0 END AS post,
               CAST(round(value, 8) AS DECIMAL(18,8)) AS v
        FROM events
    ),
    cells AS (
        SELECT event_type,
               CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN v END) AS DOUBLE)
                   / sum(CASE WHEN treated = 1 AND post = 1 THEN 1 END) AS t_post,
               CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN v END) AS DOUBLE)
                   / sum(CASE WHEN treated = 1 AND post = 0 THEN 1 END) AS t_pre,
               CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN v END) AS DOUBLE)
                   / sum(CASE WHEN treated = 0 AND post = 1 THEN 1 END) AS c_post,
               CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN v END) AS DOUBLE)
                   / sum(CASE WHEN treated = 0 AND post = 0 THEN 1 END) AS c_pre,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lim GROUP BY event_type
    )
    SELECT event_type,
           round(t_pre, 6) AS mean_treat_pre,
           round(t_post, 6) AS mean_treat_post,
           round(c_pre, 6) AS mean_control_pre,
           round(c_post, 6) AS mean_control_post,
           round((t_post - t_pre) - (c_post - c_pre), 6) AS did,
           n_rows
    FROM cells
    ORDER BY event_type
    """,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group two-period difference-in-differences per event type
    (block comment above)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    cut = F.min(day).over(Window.partitionBy("event_type")) + F.expr(
        f"INTERVAL {CUPED_SPLIT_DAYS} DAY"
    )
    lim = events.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("treated"),
        F.when(day >= cut, 1).otherwise(0).alias("post"),
        F.round("value", 8).cast("decimal(18,8)").alias("v"),
    )

    def cell(t: int, p: int) -> F.Column:
        m = (F.col("treated") == t) & (F.col("post") == p)
        return F.sum(F.when(m, F.col("v"))).cast("double") / F.sum(
            F.when(m, 1)
        )

    cells = lim.groupBy("event_type").agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return cells.select(
        "event_type",
        F.round("t_pre", 6).alias("mean_treat_pre"),
        F.round("t_post", 6).alias("mean_treat_post"),
        F.round("c_pre", 6).alias("mean_control_pre"),
        F.round("c_post", 6).alias("mean_control_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 6
        ).alias("did"),
        "n_rows",
    ).orderBy("event_type")
