"""Classic warehouse analytics over the star schema — the TPC-H-shaped
multi-join aggregations (Q3/Q5/Q10 adapted to the columns the synthetic
schema carries). The reference's join surface stops at two-table
lookup joins (SURVEY.md §2.5, practicedag.py:63-87); a user replacing
it with this engine gets the full dim-and-fact join patterns a real
warehouse runs daily, so these are registered as first-class queries.

Plan shapes (the reason each exists):

- **shipping priority (Q3)**: selective dim filter (market segment) →
  fact-fact equi-join → grouped revenue → global top-k. The top-k is
  orderBy+limit, which Spark executes as TakeOrderedAndProject —
  per-partition heaps then a driver merge of K rows, never a global
  sort (the distributed top-k contract from operators/relational.py).
- **local supplier volume (Q5)**: the 6-table join. region/nation are
  broadcast (STATIC_DIMS); customer/orders/lineitem/supplier shuffle
  on their join keys with AQE free to reorder; the c_nationkey =
  s_nationkey constraint turns the join into a cycle that Catalyst
  plans as a chain + final filter.
- **returned items (Q10)**: fact filter (returnflag) pushed to the
  scan, three joins, high-cardinality group (customer grain), top-20.

Determinism: revenue sums are decimal-cast before summing (order
independent, `dsum`), ties at every top-k boundary broken by unique
keys on BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table, parquet_row_count
from .aggregates import dsum

REV_DEC = "decimal(18,4)"


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_ORACLE_REV = "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           {_ORACLE_REV} AS revenue,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate ASC, orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted (o_orderpriority stands in for the absent
    o_shippriority): unshipped-revenue top-10 by order."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(dsum(_revenue(), "revenue", REV_DEC))
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {_ORACLE_REV} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from lineitems where the supplier and the
    ordering customer share a nation, per ASIA nation, for one year."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(_revenue(), "revenue", REV_DEC))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey AS custkey,
           c.c_name AS name,
           {_ORACLE_REV} AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS acctbal,
           n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in one
    quarter — returnflag pushed to the lineitem scan, customer-grain
    aggregate, distributed top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(dsum(_revenue(), "revenue", REV_DEC))
        .select("custkey", "name", "revenue", "acctbal", "nation")
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue_delta,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-predicate-aggregate — every filter is a
    pushable parquet predicate (range on shipdate, between on
    discount, < on quantity), the aggregate is a single partial-final
    sum with no grouping key. The plan-quality canary: if any of these
    filters fails to reach PushedFilters, scan pushdown broke."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(
            F.col("l_extendedprice") * F.col("l_discount"),
            "revenue_delta",
            REV_DEC,
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape on the columns this schema carries (no
    l_shipmode/l_receiptdate: lateness is shipdate > orderdate + 90d,
    the mode dimension is l_linestatus): fact-fact equi-join with a
    residual theta predicate, conditional-sum pivot on priority. The
    pattern behind every 'SLA breach by category' report."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q18_MIN_QTY = 200


@query(
    "q18_large_volume_customers",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_MIN_QTY}
    )
    SELECT c.c_name AS name,
           c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           o.o_orderdate AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(b.total_qty AS DOUBLE) AS total_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a floor, joined
    back to orders+customer, top-100 by price. The HAVING-then-semi
    shape: the fact aggregates to order grain FIRST (map-side partial
    on the natural key), and only the surviving keys join to the
    dims — the aggregate acts as its own semi-join filter, which is
    how a 100-TB engine avoids joining the full fact."""
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > Q18_MIN_QTY)
        .select("l_orderkey", F.col("qty").cast("double").alias("total_qty"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(100)
    )


# ------------------------------------------------- market basket

BASKET_MIN_PAIR = 3  # minimum co-occurrence count to score a pair
BASKET_TOP_K = 50
# broadcast the item-count dimension only when the catalog is provably
# small (footer-metadata row count of the part table, an upper bound
# on distinct l_partkey); ~10M 16-byte rows ≈ low hundreds of MB, the
# conventional ceiling for a driver-side broadcast build
BASKET_BROADCAST_MAX_ITEMS = 10_000_000


def _baskets(
    spark: SparkSession, sf_dir: str, a: str, b: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The per-order sorted part arrays ``(l_orderkey, ps)`` and the
    item counts twice, as ``(a, n_a)`` and ``(b, n_b)``, for the two
    ends of a co-purchase pair.

    ONE exchange builds the basket arrays straight off the scan
    (collect_set = a select-distinct folded into the same shuffle), so
    callers enumerate pairs BASKET-LOCALLY from the sorted array
    instead of self-joining the distinct (order, part) frame, which
    shuffled it twice more; expansion stays bounded by
    max-basket-size² per order, and the basket-grain array frame is
    the lineage cut. The item counts are broadcast only when the part
    table's footer row count (an upper bound on distinct l_partkey)
    is under BASKET_BROADCAST_MAX_ITEMS."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=False)
    )
    items = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    ia = items.select(F.col("l_partkey").alias(a), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("l_partkey").alias(b), F.col("n_item").alias("n_b"))
    if parquet_row_count(f"{sf_dir}/part.parquet") <= BASKET_BROADCAST_MAX_ITEMS:
        ia, ib = F.broadcast(ia), F.broadcast(ib)
    return baskets, ia, ib


@query(
    "market_basket_pairs",
    oracle=f"""
    WITH bk AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    items AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM bk GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM bk
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_pair
        FROM bk a JOIN bk b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.n_pair,
           round(p.n_pair * 1.0 / ia.n_item, 6) AS confidence,
           round(p.n_pair * 1.0 * t.n_orders / (ia.n_item * ib.n_item), 6)
               AS lift
    FROM pairs p
    JOIN items ia ON p.part_a = ia.l_partkey
    JOIN items ib ON p.part_b = ib.l_partkey
    CROSS JOIN tot t
    WHERE p.n_pair >= {BASKET_MIN_PAIR}
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT {BASKET_TOP_K}
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (frequently-bought-together): top pairs
    by lift with support and confidence. Pair generation is
    BASKET-LOCAL over one grouped basket array (one exchange on the
    basket key, no self-join) — expansion is bounded by
    max-basket-size² per order (TPC-H baskets are ≤ ~13 lines;
    a retail 100-TB fact keeps the same bound), never corpus-quadratic.
    Item counts (distinct-part grain) join back onto the pair
    aggregate with a SIZE-GATED broadcast: the item dimension is
    catalog-sized, and an unconditional broadcast hint would OOM the
    driver at a 100M-SKU catalog, while hint-free AQE is
    non-deterministic run-to-run at the margin. The gate reads the
    part table's exact row count from parquet FOOTER metadata (no
    Spark job — distinct l_partkey cardinality is bounded by |part|)
    and hints broadcast only under BASKET_BROADCAST_MAX_ITEMS
    (VERDICT r3 market-basket caveat, option b). The global order
    count stays a one-row broadcast; top-K is TakeOrderedAndProject.
    This is the same bounded-pair-space discipline as the
    capped-Jaccard dedup, applied to the classic co-occurrence
    analytics query."""
    baskets, ia, ib = _baskets(spark, sf_dir, "part_a", "part_b")
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= BASKET_MIN_PAIR)
    )
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(F.col("n_pair") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_pair") * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(BASKET_TOP_K)
    )


@query(
    "churn_yearly_customers",
    oracle="""
    WITH act AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS y, o_custkey AS c
        FROM orders
    )
    SELECT a.y AS year,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN b.c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_churned,
           round(CAST(sum(CASE WHEN b.c IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS churn_rate
    FROM act a
    LEFT JOIN act b ON b.y = a.y + 1 AND b.c = a.c
    WHERE a.y + 1 < (SELECT CAST(year(max(o_orderdate)) AS INT) FROM orders)
    GROUP BY a.y
    ORDER BY year
    """,
)
def churn_yearly_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly churn: customers active in year Y with no order in Y+1
    — the temporal anti-membership shape (distinct from cohort
    retention, which tracks a fixed cohort forward). One hash
    aggregate reduces the fact to the distinct (year, customer) grain;
    the self left-join on (year+1, customer) runs on that aggregated
    frame, so the pair space is |customers| x |years| regardless of
    fact size. Right-censoring guard: churn for year Y is reported
    ONLY when year Y+1 is fully observed — the data's last year is
    treated as partial (it usually is; here orders end 2001-08-01),
    so Y+1 must be strictly BEFORE it. The boundary derives from
    max(o_orderdate) on both engines, never a constant a data
    regeneration would silently invalidate."""
    o = load_table(spark, sf_dir, "orders")
    act = (
        o.select(
            F.year("o_orderdate").alias("y"), F.col("o_custkey").alias("c")
        ).distinct()
    )
    act = act.localCheckpoint(eager=False)  # one derivation, both join sides
    nxt = act.select((F.col("y") - 1).alias("ny"), F.col("c").alias("c2"))
    churn_flag = F.when(F.col("c2").isNull(), 1).otherwise(0)
    maxy = F.broadcast(
        o.agg(F.year(F.max("o_orderdate")).cast("int").alias("maxy"))
    )
    cur = act.crossJoin(maxy).filter(F.col("y") + 1 < F.col("maxy"))
    return (
        cur.join(
            nxt,
            (cur.y == nxt.ny) & (cur.c == nxt.c2),
            "left",
        )
        .groupBy(F.col("y").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(churn_flag).alias("n_churned"),
            F.round(
                F.sum(churn_flag).cast("double") / F.count(F.lit(1)), 6
            ).alias("churn_rate"),
        )
        .orderBy("year")
    )


@query(
    "rfm_customer_segments",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    m AS (
        SELECT o_custkey AS custkey,
               CAST(date_diff('day', max(o_orderdate),
                              (SELECT mx FROM anchor)) AS INT) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY 1
    ),
    cuts AS (
        SELECT round(quantile_cont(recency_days, 0.25), 6) AS r1,
               round(quantile_cont(recency_days, 0.50), 6) AS r2,
               round(quantile_cont(recency_days, 0.75), 6) AS r3,
               round(quantile_cont(frequency, 0.25), 6) AS f1,
               round(quantile_cont(frequency, 0.50), 6) AS f2,
               round(quantile_cont(frequency, 0.75), 6) AS f3,
               round(quantile_cont(monetary, 0.25), 6) AS m1,
               round(quantile_cont(monetary, 0.50), 6) AS m2,
               round(quantile_cont(monetary, 0.75), 6) AS m3
        FROM m
    )
    SELECT custkey, recency_days, frequency, monetary,
           concat('R', CASE WHEN recency_days <= r1 THEN 1
                            WHEN recency_days <= r2 THEN 2
                            WHEN recency_days <= r3 THEN 3 ELSE 4 END,
                  'F', CASE WHEN frequency <= f1 THEN 1
                            WHEN frequency <= f2 THEN 2
                            WHEN frequency <= f3 THEN 3 ELSE 4 END,
                  'M', CASE WHEN monetary <= m1 THEN 1
                            WHEN monetary <= m2 THEN 2
                            WHEN monetary <= m3 THEN 3 ELSE 4 END) AS segment
    FROM m CROSS JOIN cuts
    ORDER BY custkey
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value bucketing
    (recency since last order / order frequency / monetary total,
    each quartile-bucketed into a segment label like 'R1F4M4').
    Scalable shape: one customer-grain aggregate, then the NINE
    quartile cuts as a single broadcast row with CASE bucketing — no
    global ntile window (which would sort every customer in one
    partition; the same broadcast-cuts discipline as
    agg_histogram_equi_depth; at 100 TB swap the exact percentiles
    for approx_percentile, plan unchanged). Bucket numbers are raw
    quartiles on each metric (low recency_days = recent = bucket 1);
    cuts are round(6)-ed on both engines so interpolated boundaries
    compare identically."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    m = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate"))
            .cast("int")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", "monetary", "decimal(18,2)"),
        )
    )
    m = m.localCheckpoint(eager=False)  # one aggregate feeds cuts + bucketing
    cuts = F.broadcast(
        m.agg(
            *[
                F.round(F.expr(f"percentile({col}, {q})"), 6).alias(f"{a}{i}")
                for col, a in (
                    ("recency_days", "r"),
                    ("frequency", "f"),
                    ("monetary", "m"),
                )
                for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
            ]
        )
    )

    def bucket(col: str, a: str):
        return (
            F.when(F.col(col) <= F.col(f"{a}1"), 1)
            .when(F.col(col) <= F.col(f"{a}2"), 2)
            .when(F.col(col) <= F.col(f"{a}3"), 3)
            .otherwise(4)
        )

    return (
        m.crossJoin(cuts)
        .select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary",
            F.concat(
                F.lit("R"), bucket("recency_days", "r"),
                F.lit("F"), bucket("frequency", "f"),
                F.lit("M"), bucket("monetary", "m"),
            ).alias("segment"),
        )
        .orderBy("custkey")
    )


@query(
    "analytics_pareto_frontier",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def analytics_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (cheaper
    price, larger size) — the classic multi-objective shortlist query
    (cheapest part at every size level). The oracle states dominance
    directly as NOT EXISTS (O(n²), fine for DuckDB at sf0.01); the
    Spark plan is the SCALABLE reformulation — a point survives iff
    (a) it carries its price level's max size (same-price dominance)
    and (b) that level max strictly exceeds every strictly-cheaper
    level's max (cross-price dominance, a running max over the
    price-grain aggregate):

    100-TB shape: the only per-row work is ONE hash aggregate to
    price grain plus the join-back; the unpartitioned running-max
    window runs on the price-LEVEL frame (distinct prices — catalog
    dimension scale, not fact scale), the same discipline as
    curriculum ordering's phase window. Exact duplicates of a
    surviving point all survive, matching the strict-dominance oracle
    semantics on both engines."""
    from pyspark.sql import Window

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    level = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("lv_max"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    survivors = (
        level.withColumn("run_max", F.max("lv_max").over(w))
        .filter(F.col("run_max").isNull() | (F.col("run_max") < F.col("lv_max")))
        .select(
            F.col("p_retailprice").alias("sv_price"),
            F.col("lv_max").alias("sv_size"),
        )
    )
    return parts.join(
        F.broadcast(survivors),
        (parts.p_retailprice == F.col("sv_price"))
        & (parts.p_size == F.col("sv_size")),
    ).select("p_partkey", "p_retailprice", "p_size")


KM_CENSOR_DAYS = 90  # no order in the trailing window => censored
KM_BUCKET_DAYS = 30  # lifetime discretized to ~months

# The customer life table both survival estimators share, as DuckDB
# CTEs ending in `risk(t, d, n_risk)`; life_table is its Spark twin.
LIFE_TABLE_ORACLE_CTES = f"""
    WITH cust AS (
        SELECT o_custkey,
               min(o_orderdate) AS first_o, max(o_orderdate) AS last_o
        FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
    life AS (
        SELECT CAST(floor(date_diff('day', first_o, last_o)
                          / {KM_BUCKET_DAYS}.0) AS BIGINT) AS t,
               CASE WHEN date_diff('day', last_o, mxd) > {KM_CENSOR_DAYS}
                    THEN 1 ELSE 0 END AS observed
        FROM cust CROSS JOIN mx
    ),
    grid AS (
        SELECT t, CAST(sum(observed) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n_at_t
        FROM life GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               CAST(sum(n_at_t) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM grid
    ),
"""


def life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, d, n_risk) per lifetime bucket: t = first-to-last order span
    in KM_BUCKET_DAYS buckets, d = customers whose last order is more
    than KM_CENSOR_DAYS before the dataset's end (observed events),
    n_risk = customers with lifetime >= t (a reversed running count).

    100-TB shape: the only fact-scale step is the customer-grain
    min/max aggregate (one map-combinable shuffle); the table itself
    lives at duration grain (~tens of rows), where the unpartitioned
    window is free. The dataset-end scalar is a one-row broadcast."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cust = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"), F.max("o_orderdate").alias("last_o")
    )
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    life = cust.crossJoin(F.broadcast(mx)).select(
        F.floor(
            F.datediff(F.col("last_o"), F.col("first_o")) / float(KM_BUCKET_DAYS)
        ).alias("t"),
        F.when(
            F.datediff(F.col("mxd"), F.col("last_o")) > KM_CENSOR_DAYS, 1
        )
        .otherwise(0)
        .alias("observed"),
    )
    grid = life.groupBy("t").agg(
        F.sum("observed").alias("d"), F.count(F.lit(1)).alias("n_at_t")
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select("t", "d", F.sum("n_at_t").over(w_desc).alias("n_risk"))


@query(
    "survival_kaplan_meier",
    oracle=f"""{LIFE_TABLE_ORACLE_CTES}    km AS (
        SELECT t, d, n_risk,
               sum(CASE WHEN d < n_risk THEN
                       CAST(round(ln(1.0 - d * 1.0 / n_risk), 12)
                            AS DECIMAL(28,12)) END)
                   OVER (ORDER BY t ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS logsum,
               sum(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS absorbed
        FROM risk
    )
    SELECT t AS duration_months, n_risk, d AS d_events,
           CASE WHEN absorbed > 0 THEN 0.0
                ELSE round(exp(CAST(coalesce(logsum, 0) AS DOUBLE)), 6)
           END AS survival
    FROM km
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of customer lifetime (Kaplan &
    Meier 1958 — public): lifetime = first-to-last order span in
    {KM_BUCKET_DAYS}-day buckets; a customer still ordering within
    {KM_CENSOR_DAYS} days of the dataset's end is right-CENSORED (its
    lifetime is a lower bound, so it leaves the risk set without
    counting as an event) — the estimator retention/churn teams use
    precisely because naive churn rates throw censored customers away.
    S(t) = prod over event times <= t of (1 - d_i/n_i).

    Determinism: the product is exp of an exact-DECIMAL sum of
    round(ln(1 - d/n), 12) terms (order-independent, the PageRank
    contribution trick applied to a product); a bucket where the whole
    risk set dies (factor 0) sets survival to exactly 0 from there on
    via an `absorbed` running flag instead of ln(0).

    100-TB shape: that of life_table; the KM windows run at its
    duration grain."""
    risk = life_table(spark, sf_dir)
    w_asc = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(F.log(F.lit(1.0) - F.col("d") * 1.0 / F.col("n_risk")), 12).cast(
            "decimal(28,12)"
        ),
    )
    km = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(term).over(w_asc).alias("logsum"),
        F.sum(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0))
        .over(w_asc)
        .alias("absorbed"),
    )
    return km.select(
        F.col("t").alias("duration_months"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.when(F.col("absorbed") > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.coalesce(F.col("logsum"), F.lit(0)).cast("double")), 6)
        )
        .alias("survival"),
    )


@query(
    "analytics_gini_spend",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    rk AS (
        SELECT nationkey, x,
               row_number() OVER (
                   PARTITION BY nationkey ORDER BY x, custkey) AS i
        FROM spend
    )
    SELECT nationkey,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(CAST(sum(x) AS DOUBLE), 2) AS total_spend,
           round(2.0 * CAST(sum(i * x) AS DOUBLE)
                 / (count(*) * CAST(sum(x) AS DOUBLE))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM rk
    GROUP BY nationkey
    """,
)
def analytics_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the inequality
    scalar (0 = everyone spends the same, ->1 = one whale) computed
    with the closed-form rank identity G = 2*sum(i*x_i)/(n*sum(x)) -
    (n+1)/n over ascending-sorted spend. The concentration metric
    behind "what fraction of revenue is the top 1%?" dashboards,
    without materializing the Lorenz curve.

    Determinism: spends are exact DECIMAL sums; rank ties (equal x)
    break on custkey, and the identity is tie-assignment-invariant
    anyway (equal x makes sum(i*x) independent of how equal-valued
    rows share their rank range). i*x accumulates as exact DECIMAL;
    the two divisions happen once, on exact totals, then round(6).

    100-TB shape: one customer-grain aggregate (map-combinable), one
    nation-key window (the rank) and the final nation-grain aggregate
    ride a single exchange. Per-nation sort is the unavoidable cost of
    exact Gini; at extreme scale swap in the binned approximation over
    a fixed histogram (same discipline as approx percentiles) —
    documented trade, exact here for oracle parity."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    )
    w = Window.partitionBy("nationkey").orderBy("x", "custkey")
    rk = spend.select("nationkey", "x", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    return rk.groupBy("nationkey").agg(
        n.alias("n_cust"),
        F.round(F.sum("x").cast("double"), 2).alias("total_spend"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("x")).cast("double")
            / (n * F.sum("x").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


ABC_A, ABC_B = 0.80, 0.95  # cumulative revenue-share class boundaries


@query(
    "analytics_abc_classification",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS r
        FROM lineitem GROUP BY 1
    ),
    ranked AS (
        SELECT l_partkey, r,
               sum(r) OVER (ORDER BY r DESC, l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(r) OVER () AS tot
        FROM rev
    ),
    classed AS (
        SELECT l_partkey, r,
               CASE WHEN cum * 1.0 <= tot * {ABC_A} THEN 'A'
                    WHEN cum * 1.0 <= tot * {ABC_B} THEN 'B'
                    ELSE 'C' END AS abc
        FROM ranked
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(r) AS DOUBLE), 2) AS revenue,
           round(CAST(sum(r) AS DOUBLE)
                 / CAST((SELECT sum(r) FROM rev) AS DOUBLE), 6)
               AS revenue_share
    FROM classed
    GROUP BY abc
    """,
)
def analytics_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification (the Pareto-class cut every
    supply-chain system runs — public): parts ranked by revenue,
    class A = the head covering the first {ABC_A:.0%} of cumulative
    revenue, B to {ABC_B:.0%}, C the tail. The classed result is what
    cycle-count frequency, safety stock, and shelf placement key on;
    the Gini query measures concentration, this one ACTS on it.

    Determinism: revenues are exact decimal sums; the cumulative
    window orders by (revenue desc, partkey) — unique key tiebreak —
    and the class comparison is decimal-vs-decimal (cum <= tot*share
    with exact cum/tot; the share multiplication happens once on the
    exact total on both engines).

    100-TB shape: one part-grain aggregate, then a single global
    cumulative window over the part dimension — catalog-sized, the
    documented single-sort trade (same as Gini; a 100M-SKU catalog
    range-partitions the sort, Spark's default). Output is 3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("r")
    )
    rev = rev.localCheckpoint(eager=False)  # window + grand total share it
    wc = Window.orderBy(F.col("r").desc(), F.col("l_partkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    classed = rev.select(
        "r",
        F.sum("r").over(wc).alias("cum"),
        F.sum("r").over(wall).alias("tot"),
    ).select(
        "r",
        F.when(F.col("cum") * 1.0 <= F.col("tot") * ABC_A, "A")
        .when(F.col("cum") * 1.0 <= F.col("tot") * ABC_B, "B")
        .otherwise("C")
        .alias("abc"),
    )
    tot = rev.agg(F.sum("r").alias("t"))
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("r").alias("sr"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc",
            "n_parts",
            F.round(F.col("sr").cast("double"), 2).alias("revenue"),
            F.round(
                F.col("sr").cast("double") / F.col("t").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


@query(
    "window_growth_mom_yoy",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS rev
        FROM orders GROUP BY 1
    )
    SELECT month,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           round((CAST(rev AS DOUBLE)
                  / CAST(lag(rev, 1) OVER (ORDER BY month) AS DOUBLE) - 1)
                 * 100, 6) AS mom_pct,
           round((CAST(rev AS DOUBLE)
                  / CAST(lag(rev, 12) OVER (ORDER BY month) AS DOUBLE) - 1)
                 * 100, 6) AS yoy_pct
    FROM m
    """,
)
def window_growth_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the
    board-deck numbers: monthly revenue with lag(1) and lag(12)
    percentage deltas (YoY is the seasonally-honest one; MoM is the
    fast one; publishing both next to each other is the standard
    guard against mistaking seasonality for trend, the report-side
    complement of ts_seasonal_decompose). First month's MoM and the
    first year's YoY are NULL, not zero — there is no prior period,
    and 0% would claim flatness.

    Determinism: monthly revenue is an exact decimal sum; the lag
    ratio is one double expression rounded once; month-grain output.

    100-TB shape: cost collapses at the month-grain aggregate; the
    lag window runs over ~tens of rows."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("month")
    rev_d = F.col("rev").cast("double")
    return m.select(
        "month",
        F.round(rev_d, 2).alias("revenue"),
        F.round(
            (rev_d / F.lag("rev", 1).over(w).cast("double") - 1) * 100, 6
        ).alias("mom_pct"),
        F.round(
            (rev_d / F.lag("rev", 12).over(w).cast("double") - 1) * 100, 6
        ).alias("yoy_pct"),
    )


@query(
    "analytics_herfindahl_market",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, l.l_suppkey AS suppkey,
               sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS r
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT nation, sum(r) AS t, count(*) AS n_suppliers FROM rev GROUP BY 1)
    SELECT r.nation,
           CAST(max(t.n_suppliers) AS BIGINT) AS n_suppliers,
           round(CAST(sum(CAST(round(
               CAST(r.r AS DOUBLE) / CAST(t.t AS DOUBLE)
               * CAST(r.r AS DOUBLE) / CAST(t.t AS DOUBLE) * 10000, 8)
               AS DECIMAL(28,8))) AS DOUBLE), 6) AS hhi
    FROM rev r JOIN tot t ON r.nation = t.nation
    GROUP BY r.nation
    ORDER BY r.nation
    """,
)
def analytics_herfindahl_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per nation market —
    sum of squared supplier revenue shares on the 0-10000 scale (the
    antitrust convention; >2500 = highly concentrated). Completes the
    concentration family next to analytics_gini_spend (inequality of
    a distribution) and analytics_abc_classification (cumulative
    rank tiers): HHI is the single-number market-power summary.

    Plan: one fact-grain (nation, supplier) aggregate on broadcast
    dims, then a nation-grain reduce — both map-side combinable; no
    window needed (unlike Gini's rank sort): shares square-sum
    directly. Scales as a pure two-level aggregation tree.
    Determinism: revenue sums are exact decimals; each share² term is
    rounded(8) and decimal-cast before the final sum (exact, any
    accumulation order), then round(6) — the _dsum discipline."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum((_revenue()).cast(REV_DEC)).alias("r"))
        # lazy cut: rev feeds the nation totals AND the share join —
        # uncut, each re-ran the fact join + aggregate (observed: 2
        # scans of each table; guide §1.2). Nation x supplier rows.
        .localCheckpoint(eager=False)
    )
    tot = rev.groupBy("nation").agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("r").cast("double") / F.col("t").cast("double")
    return (
        rev.join(tot, "nation")
        .groupBy("nation")
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.round(
                F.sum(F.round(share * share * 10000, 8).cast("decimal(28,8)")).cast(
                    "double"
                ),
                6,
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


# ----------------------------------------------- Theil decomposition
# Gini (above) measures inequality but does not DECOMPOSE: you cannot
# say how much of total spend inequality is between nations vs within
# them. The Theil-T index is the standard additively-decomposable
# alternative (Theil 1967): T_total = T_between + sum_g share_g *
# T_within_g. The training-data analog is corpus-mix auditing:
# how much token-count inequality is between sources vs within one.
#
# Plan: customer-grain spend (one fact agg), a 25-row nation model
# frame and a 1-row global frame broadcast back over the spend frame;
# every ln() term is computed per customer row, rounded(10), and
# decimal-summed (order-independent); the three decomposition scalars
# and the per-nation within terms are unioned into one (component,
# value) frame. Scales as two aggregation trees over the spend grain.

_THEIL_SPEND_CTE = """spend AS (
        SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )"""


@query(
    "analytics_theil_decomposition",
    oracle=f"""
    WITH {_THEIL_SPEND_CTE},
    g AS (
        SELECT nationkey, count(*) AS ng, sum(x) AS tg
        FROM spend GROUP BY 1
    ),
    gstats AS (SELECT sum(ng) AS n, sum(tg) AS t FROM g),
    tot AS (
        SELECT round(CAST(sum(CAST(round(
                   CAST(s.x AS DOUBLE) / (CAST(gl.t AS DOUBLE) / gl.n)
                   * ln(CAST(s.x AS DOUBLE) / (CAST(gl.t AS DOUBLE) / gl.n)),
               10) AS DECIMAL(28,10))) AS DOUBLE) / max(gl.n), 6) AS v
        FROM spend s CROSS JOIN gstats gl
    ),
    wg AS (
        SELECT s.nationkey,
               round(CAST(sum(CAST(round(
                   CAST(s.x AS DOUBLE) / (CAST(g.tg AS DOUBLE) / g.ng)
                   * ln(CAST(s.x AS DOUBLE) / (CAST(g.tg AS DOUBLE) / g.ng)),
               10) AS DECIMAL(28,10))) AS DOUBLE) / max(g.ng), 10) AS tw,
               round(CAST(max(g.tg) AS DOUBLE) / CAST(max(gl.t) AS DOUBLE), 10) AS share
        FROM spend s
        JOIN g ON s.nationkey = g.nationkey
        CROSS JOIN gstats gl
        GROUP BY s.nationkey
    ),
    btw AS (
        SELECT round(CAST(sum(CAST(round(
                   CAST(g.tg AS DOUBLE) / CAST(gl.t AS DOUBLE)
                   * ln((CAST(g.tg AS DOUBLE) / CAST(gl.t AS DOUBLE))
                        / (CAST(g.ng AS DOUBLE) / gl.n)),
               10) AS DECIMAL(28,10))) AS DOUBLE), 6) AS v
        FROM g CROSS JOIN gstats gl
    ),
    wsum AS (
        SELECT round(CAST(sum(CAST(round(share * tw, 10)
                   AS DECIMAL(28,10))) AS DOUBLE), 6) AS v
        FROM wg
    )
    SELECT 'total' AS component, v AS value FROM tot
    UNION ALL SELECT 'between', v FROM btw
    UNION ALL SELECT 'within', v FROM wsum
    UNION ALL SELECT 'within_nation_' || CAST(nationkey AS VARCHAR), round(tw, 6) FROM wg
    ORDER BY component
    """,
)
def analytics_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer spend, decomposed into between-
    nation and within-nation components plus each nation's within
    index (block comment above)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), F.col("o_custkey").alias("custkey"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)").alias("x"))
    )
    # The nation frame fans out to four consumers, and only it and the
    # spend frame are ever re-scanned — materialize the 25-row model
    # once (the minhash/winnowing fan-out discipline).
    g = (
        spend.groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("ng"), F.sum("x").alias("tg"))
        .localCheckpoint(eager=True)
    )
    # Global N and T are two driver-side scalars off the 25-row model
    # frame (the pagerank node-count pattern) — folding them in as
    # literals instead of 1-row crossJoins keeps the plan free of
    # per-branch broadcast nested loops (plan-lint cap).
    grow = g.agg(F.sum("ng").alias("n"), F.sum("tg").alias("t")).collect()[0]
    n_glob = F.lit(int(grow["n"]))
    # float(Decimal) and DuckDB's CAST(dec AS DOUBLE) both round the
    # exact decimal to nearest double — identical values
    t_glob = F.lit(float(grow["t"]))

    def _dsum10(term: F.Column) -> F.Column:
        return F.sum(F.round(term, 10).cast("decimal(28,10)")).cast("double")

    xd = F.col("x").cast("double")
    mu_glob = t_glob / n_glob
    tot = spend.agg(
        (F.round(_dsum10(xd / mu_glob * F.log(xd / mu_glob)) / n_glob, 6)).alias("value")
    ).select(F.lit("total").alias("component"), "value")
    mu_g = F.col("tg").cast("double") / F.col("ng")
    wg = (
        spend.join(F.broadcast(g), "nationkey")
        .groupBy("nationkey")
        .agg(
            F.round(_dsum10(xd / mu_g * F.log(xd / mu_g)) / F.max("ng"), 10).alias("tw"),
            F.round(F.max("tg").cast("double") / t_glob, 10).alias("share"),
        )
        .localCheckpoint(eager=True)  # two consumers below
    )
    share_g = F.col("tg").cast("double") / t_glob
    btw = g.agg(
        F.round(
            _dsum10(share_g * F.log(share_g / (F.col("ng").cast("double") / n_glob))), 6
        ).alias("value")
    ).select(F.lit("between").alias("component"), "value")
    wsum = wg.agg(F.round(_dsum10(F.col("share") * F.col("tw")), 6).alias("value")).select(
        F.lit("within").alias("component"), "value"
    )
    per_nation = wg.select(
        F.concat(F.lit("within_nation_"), F.col("nationkey").cast("string")).alias("component"),
        F.round(F.col("tw"), 6).alias("value"),
    )
    return tot.unionByName(btw).unionByName(wsum).unionByName(per_nation).orderBy("component")


# ------------------------------------- item-item collaborative filtering

CF_TOP_K = 5
CF_MIN_PAIR = 2


@query(
    "rec_item_item_cosine",
    oracle=f"""
    WITH bk AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    items AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM bk GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_pair
        FROM bk a JOIN bk b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT p.part_a AS item, p.part_b AS neighbor, p.n_pair,
               round(p.n_pair / sqrt(ia.n_item * ib.n_item), 6) AS cosine
        FROM pairs p
        JOIN items ia ON p.part_a = ia.l_partkey
        JOIN items ib ON p.part_b = ib.l_partkey
        WHERE p.n_pair >= {CF_MIN_PAIR}
    ),
    ranked AS (
        SELECT item, neighbor, n_pair, cosine,
               CAST(row_number() OVER (
                   PARTITION BY item
                   ORDER BY cosine DESC, neighbor ASC) AS INT) AS rnk
        FROM scored
    )
    SELECT item, neighbor, n_pair, cosine, rnk
    FROM ranked WHERE rnk <= {CF_TOP_K}
    ORDER BY item, rnk
    """,
)
def rec_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-CF_TOP_K neighbors per
    part by co-purchase cosine n_ij / sqrt(n_i * n_j) — the classic
    Amazon-style "customers also bought" memory-based recommender
    (Sarwar et al. 2001), the RANKING twin of market_basket_pairs'
    global lift shortlist.

    Scale shape: same bounded machinery as the basket query — pairs
    are enumerated basket-locally from one grouped basket array,
    bounded by max-basket-size² per order; DIRECTED pairs (a <> b,
    not a < b) because each item ranks its own neighbor list. The per-item top-k
    window runs at pair grain (already bounded); item counts join
    with the same footer-gated broadcast. Cosine from exact integer
    counts — no float drift."""
    baskets, ia, ib = _baskets(spark, sf_dir, "item", "neighbor")
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x ->"
                    " transform(filter(ps, y -> y != x),"
                    " y -> struct(x AS item, y AS neighbor))))"
                )
            ).alias("p")
        )
        .select("p.item", "p.neighbor")
        .groupBy("item", "neighbor")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= CF_MIN_PAIR)
    )
    scored = (
        pairs.join(ia, "item")
        .join(ib, "neighbor")
        .select(
            "item",
            "neighbor",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(F.col("n_pair") / F.sqrt(F.col("n_a") * F.col("n_b")), 6).alias("cosine"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("item").orderBy(F.desc("cosine"), F.asc("neighbor"))
    )
    return (
        scored.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= CF_TOP_K)
        .orderBy("item", "rnk")
    )
