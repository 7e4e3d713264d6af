"""The second tranche of warehouse classics — TPC-H Q4/Q7/Q8/Q13/Q14/
Q15/Q17/Q19/Q21/Q22 adapted to the columns the synthetic schema carries
(no partsupp table, no l_commitdate/l_receiptdate/l_shipmode, no
c_phone/p_container — each adaptation is noted per query). Together
with analytics.py (Q1/Q3/Q5/Q6/Q10/Q12/Q18) this covers every TPC-H
query expressible without the partsupp table.

The reference's query surface is two-table lookup joins and single-key
aggregations (SURVEY.md §2.5, practicedag.py:63-87); these queries are
the canonical decision-support shapes a user migrating off it will
want, each exercising a distinct plan pattern:

- **Q4**: correlated EXISTS → left-semi join with a theta residual.
- **Q7**: dim-pair filter pushed through a 6-table join, grouped by a
  derived year column.
- **Q8**: ratio-of-conditional-sums (market share) over the full
  snowflake — the nation dimension joins TWICE under different roles.
- **Q13**: left outer join with an ON-clause predicate (not WHERE —
  preserving unmatched rows), then a distribution-of-counts re-agg.
- **Q14**: conditional-sum ratio over a fact-dim join (promo share).
- **Q15**: aggregate → argmax-by-global-max via a broadcast one-row
  max (the "view + scalar subquery" shape, no window over all rows).
- **Q17**: per-group average as a self-join filter threshold (the
  "below 20% of this part's mean" correlated aggregate).
- **Q19**: OR-of-ANDs pushed as a single residual over one join — the
  disjunctive-predicate shape that breaks naive pushdown.
- **Q21**: EXISTS + NOT EXISTS stacked on the same fact (left-semi
  then left-anti on per-order supplier sets).
- **Q22**: scalar-subquery threshold (broadcast one-row avg) + anti
  join against a date-scoped fact subset.

Determinism contract (registry.py docstring): money sums go through
``dsum`` (decimal accumulate, double output); ratios divide exact
decimal sums cast to double with the SAME expression shape on both
engines; every LIMIT carries a total-order tiebreak.

100-TB notes: every join is an equi-join on the natural keys; nation/
region/part-filtered dims and all one-row scalar aggregates broadcast;
the only full-fact shuffles are the group-bys on their natural grain.
Q17's per-part average reuses the same shuffle key (l_partkey) as the
subsequent join, so AQE coalesces the exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .aggregates import dsum
from .analytics import REV_DEC, _ORACLE_REV, _revenue


@query(
    "q4_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority AS orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no l_commitdate/l_receiptdate: "late" is a
    line shipped >60 days after the order date): per-priority count of
    one quarter's orders having at least one late line. The correlated
    EXISTS compiles to a left-semi join whose condition mixes an
    equi-key with a cross-side theta residual — Spark plans the equi
    part as the shuffle key and evaluates the residual post-match, so
    no order is compared against another order's lines."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("orderpriority")
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {_ORACLE_REV} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year. The nation dim joins twice under different roles (supplier
    side / customer side) — both broadcast; the disjunctive nation-pair
    predicate is applied after both roles resolve, exactly once."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(_revenue(), "revenue", REV_DEC))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    WITH sales AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                   AS volume,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                               THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END)
                      AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM sales
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_1's share of ECONOMY-part revenue sold into
    the AMERICA region, by order year. Both sums accumulate in exact
    decimal, so the double division is order-independent; the share is
    rounded to 6 places on both engines."""
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
        )
    )
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
        )
    )
    vol = _revenue().cast(REV_DEC)
    zero = F.lit(0).cast(REV_DEC)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == F.col("s_suppkey"))
        .join(o, l.l_orderkey == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(r, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double")
            ).alias("share_raw")
        )
        .select("o_year", F.round(F.col("share_raw"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 adapted (no o_comment: the ON-clause exclusion is
    priority '5-LOW' instead of a comment regex): how many customers
    placed how many qualifying orders. The predicate must live in the
    join's ON clause — a WHERE would delete the zero-order customers
    the left join exists to preserve. count(o_orderkey) counts only
    matched rows, so unmatched customers land in the c_count=0 bin."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14_promo_effect",
    oracle="""
    SELECT round(
        100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percent of one month's revenue from PROMO-type parts
    (the synthetic p_type domain carries 'PROMO' literally). One
    fact-dim join, one global conditional-sum ratio — the part side is
    a pure key+type projection and broadcasts."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    vol = _revenue().cast(REV_DEC)
    zero = F.lit(0).cast(REV_DEC)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double")
            ).alias("raw")
        )
        .select(F.round(F.col("raw"), 6).alias("promo_revenue"))
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey,
           s.s_name AS name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the maximum quarterly revenue.
    The scalar max is a one-row aggregate broadcast-cross-joined back
    onto the per-supplier revenue — no global window, no second scan
    of the fact. Revenue stays exact decimal through the equality (a
    double compare could split ties the oracle keeps)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue().cast(REV_DEC)).alias("total_revenue"))
    )
    rev = rev.localCheckpoint(eager=False)  # one scan feeds both consumers
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("max_rev")))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(mx)
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH partavg AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   * 0.2 / count(*) AS qty_threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                      AS DOUBLE) / 7.0, 4) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN partavg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND p.p_size <= 15
      AND l.l_quantity < a.qty_threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 adapted (no p_container: the part slice is brand +
    size band): yearly-ized revenue of orders below 20% of their
    part's mean quantity. The correlated per-part average becomes a
    grouped aggregate re-joined on l_partkey — the same shuffle key as
    the main join, so AQE reuses the exchange. The threshold is
    computed with an identical expression shape (exact decimal sum →
    double → *0.2 → /count) on both engines, making the strict-less
    comparison deterministic."""
    l = load_table(spark, sf_dir, "lineitem")
    partavg = (
        l.groupBy("l_partkey")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                * F.lit(0.2)
                / F.count(F.lit(1))
            ).alias("qty_threshold")
        )
        .withColumnRenamed("l_partkey", "a_partkey")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 15))
        .select("p_partkey")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(partavg, l.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(REV_DEC)).cast("double") / 7.0, 4
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {_ORACLE_REV} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 adapted (no p_container/l_shipmode: the disjuncts mix
    brand, size band, and quantity band): revenue under an OR-of-ANDs
    spanning both join sides. The brand/size part of each disjunct
    prunes the broadcast part side before the join; the quantity part
    stays a residual — Catalyst splits the disjunction so the part
    scan still gets a pushable `p_brand IN (...)` superset filter."""
    l = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size")
    )
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(_revenue(), "revenue", REV_DEC))
    )


Q21_LATE_DAYS = 120
Q21_TOP = 20


@query(
    "q21_suppliers_kept_waiting",
    oracle=f"""
    WITH f_orders AS (
        SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
    ),
    late AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN f_orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
    )
    SELECT s.s_name AS name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, name ASC
    LIMIT {Q21_TOP}
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (lateness is shipdate > orderdate + 120d;
    grain is distinct (order, supplier) pairs): suppliers who were the
    SOLE late supplier on a multi-supplier finished order. The EXISTS
    becomes a left-semi join against other-supplier lines of the same
    order, the NOT EXISTS a left-anti against other late suppliers —
    both equi-joins on l_orderkey with a supplier-inequality residual,
    so the pair space stays per-order-bounded at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    late = late.localCheckpoint(eager=False)  # feeds l1 and the anti side
    other_lines = l.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    # The checkpoint carries no size, so the anti join is planned as a
    # sort-merge join. Left to AQE, it becomes a broadcast at run time,
    # and the converted plan (and so its generated code) depends on
    # which of the concurrently running stages finished first. The
    # hint keeps the scale-safe plan on every run.
    other_late = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    ).hint("merge")
    sole_late = (
        late.join(
            other_lines,
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_suppkey")),
            "left_semi",
        ).join(
            other_late,
            (F.col("l_orderkey") == F.col("y_orderkey"))
            & (F.col("l_suppkey") != F.col("y_suppkey")),
            "left_anti",
        )
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        sole_late.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("name"))
        .limit(Q21_TOP)
    )


Q22_RECENT = "2000-08-01"


@query(
    "q22_dormant_high_balance",
    oracle=f"""
    WITH thresh AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c CROSS JOIN thresh t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '{Q22_RECENT} 00:00:00'
      )
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (no c_phone: the group key is c_mktsegment;
    "no orders" is scoped to the trailing year of the data, since the
    synthetic generator gives every customer at least one lifetime
    order): above-average-balance customers gone quiet. The scalar
    average is a one-row broadcast; the NOT EXISTS is a left-anti
    against the date-filtered orders, whose predicate pushes to the
    orders scan before the anti-join shuffles anything."""
    c = load_table(spark, sf_dir, "customer")
    thresh = F.broadcast(
        c.filter(F.col("c_acctbal") > 0).agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= Q22_RECENT
    ).select("o_custkey")
    return (
        c.crossJoin(thresh)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("segment")
    )
