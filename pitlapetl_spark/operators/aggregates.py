"""Aggregation operators — SURVEY.md §2.6 (A1-A2) plus the distinct /
rollup / cube / pivot surface the target engine owes (§2.6 closing
note).

Float determinism: every SUM over a double measure is computed as
``sum(cast(x as decimal(18,2)))`` on BOTH the Spark and DuckDB side —
decimal addition is exact and order-independent, so shuffle order can
never flip the oracle's value hash — then cast back to double for a
stable output schema. Averages are derived as exact-decimal sum
divided by count (one IEEE division, deterministic), never the
engine's native double avg.

All group-bys here are hash aggregations with map-side partial
aggregation: at 100 TB the shuffle carries one row per (group) per
input partition, not the raw data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

DEC = "decimal(18,2)"
# products of two 2-decimal measures carry 4 exact decimal digits; a
# 2-digit cast would round at .005 boundaries where engines can
# disagree on the last double ulp, a 4-digit cast is always exact
DEC4 = "decimal(18,4)"


def dsum(col: str | Column, alias: str, dec: str = DEC) -> Column:
    """Order-independent sum of a fixed-decimal double measure."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(dec)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Deterministic average: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def ols_fit() -> tuple[Column, Column, Column]:
    """Closed-form least-squares slope, intercept and r², each rounded
    to 6 places, over the exact moment sums in columns ``n, sx, sy,
    sxx, sxy, syy``. The sums are combined exactly, then cast to
    double for the final divisions; a degenerate fit (constant x or
    constant y) goes NULL through nullif, never divides by zero."""
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / F.nullif(denx, F.lit(0.0))
    return (
        F.round(slope, 6),
        F.round((F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / n, 6),
        F.round(num * num / F.nullif(denx * deny, F.lit(0.0)), 6),
    )


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                                                                       AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity)
                                                                       AS avg_qty,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical multi-measure
    hash aggregation (scan -> partial agg -> exchange on 2 low-card
    keys -> final agg). The grouped-max A1 pattern (topspeed.py:61-75)
    generalized to the full measure set."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "sum_disc_price",
            DEC4,
        ),
        davg("l_quantity", "avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           TRUE AS approx_parts_within_tol,
           TRUE AS quantiles_ordered_in_range
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches — HyperLogLog++ distinct and approximate
    quantiles. At 100 TB these replace exact distincts whenever a ±2%
    answer is acceptable, because they aggregate without an expand and
    with constant memory.

    Sketch estimates are engine-specific, so the raw estimates can't
    hash-match a DuckDB oracle. Instead the query emits a DETERMINISTIC
    contract both engines can agree on: the exact distinct count, plus
    booleans asserting the HLL estimate lands within its configured
    tolerance (rsd 0.02, checked at ±5%) and the quantile estimates are
    ordered and inside the observed value range. The oracle computes
    the same exact count and TRUE literals — any sketch drifting out of
    tolerance flips a boolean and fails the hash compare. (r1 shipped
    raw estimates with no oracle; r2's driver row recorded err:
    no_oracle — this closes VERDICT.md r2 item 4.) The exact
    countDistinct exists only to price the tolerance check; production
    users at scale call the approx form alone."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    return agg.select(
        "l_returnflag",
        "n_parts_exact",
        (
            F.abs(F.col("approx_parts") - F.col("n_parts_exact"))
            <= F.greatest(F.lit(3), 0.05 * F.col("n_parts_exact"))
        ).alias("approx_parts_within_tol"),
        (
            (F.col("lo") <= F.col("p50"))
            & (F.col("p50") <= F.col("p95"))
            & (F.col("p95") <= F.col("p99"))
            & (F.col("p99") <= F.col("hi"))
        ).alias("quantiles_ordered_in_range"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag -> flag+status -> grand total).
    Grouping-set nulls are disambiguated with a sentinel because the
    underlying keys are never NULL in this schema."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(dsum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "n_orders",
        )
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click')    AS DOUBLE) AS click,
           CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
           CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view')     AS DOUBLE) AS view
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list — never an
    inferred one, which would need an extra distinct pass over 100 TB."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.sum(F.col("value").cast(DEC)).cast("double"))
    )


@query(
    "agg_group_minmax_stats",
    oracle="""
    SELECT event_type,
           CAST(min(value) AS DOUBLE) AS min_value,
           CAST(max(value) AS DOUBLE) AS max_value,
           CAST(min(ts) AS TIMESTAMP) AS first_ts,
           CAST(max(ts) AS TIMESTAMP) AS last_ts,
           CAST(count(*) AS BIGINT)   AS n
    FROM events
    GROUP BY event_type
    """,
)
def agg_group_minmax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group min/max over measures and timestamps (A1 family —
    exact, order-independent by construction)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_argmax_mode",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT o_orderpriority AS mode_priority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
        ORDER BY n DESC, mode_priority ASC LIMIT 1
    )
    SELECT (SELECT arg_max(o_custkey, sum_price ORDER BY sum_price DESC, o_custkey ASC)
            FROM per_cust) AS top_spender,
           (SELECT max(sum_price) FROM per_cust) AS top_spend,
           (SELECT mode_priority FROM m) AS mode_priority
    """,
)
def agg_argmax_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax (`max_by`) and modal value — the two "which row wins"
    aggregates every report needs without a window: the customer with
    the highest total spend, and the most common order priority.
    Both are single hash aggregates (max_by carries (key, measure)
    partial state; the mode is a count agg + bounded top-1). Ties are
    broken deterministically on both engines (min key among maxima;
    lexical for the mode)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        dsum("o_totalprice", "sum_price", "decimal(18,2)")
    )
    # deterministic argmax under ties: pack (measure, -key) so the max
    # struct picks the smallest key among equal measures
    top = per_cust.agg(
        F.max(F.struct(F.col("sum_price"), (-F.col("o_custkey")).alias("nk"))).alias(
            "m"
        )
    ).select(
        (-F.col("m.nk")).cast("long").alias("top_spender"),
        F.col("m.sum_price").alias("top_spend"),
    )
    mode = (
        o.groupBy(F.col("o_orderpriority").alias("mode_priority"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("mode_priority"))
        .limit(1)
        .select("mode_priority")
    )
    return top.crossJoin(F.broadcast(mode))
