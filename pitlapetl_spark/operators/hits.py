"""HITS hubs-and-authorities over the customer→part purchase graph —
the DIRECTED-iteration member of the graph family (Kleinberg 1999).

PageRank (pagerank.py) scores one undirected notion of centrality;
HITS separates the two roles a bipartite purchase graph actually has:
a customer is a good HUB when they buy authoritative parts, a part is
a good AUTHORITY when good hubs buy it — the mutually-recursive pair
`auth = Eᵀ·hub`, `hub = E·auth`, L1-normalized per round. On retail
data this surfaces taste-making customers vs consensus products; on a
web/crawl graph the same operator is the classic seed-quality scorer
for crawl frontier prioritization.

Spark-first iterative shape (the pagerank.py discipline): the edge
frame is the SHARED memoized co-purchase build (one exchange per
iteration on the join key); each round is two edge joins + two
aggregates, and the O(nodes) score frames are the only per-round
state. Normalization totals are exact decimal sums folded back as
one-row broadcast scalars. Fixed HITS_ITERS unrolled rounds on the
shared ``fixpoint`` driver, which cuts the hub frame once per round.

Determinism contract: per-edge contributions round(12) →
DECIMAL(28,12) exact sums; the L1 normalizer divides two identical
doubles on both engines; the DuckDB oracle unrolls the same rounds
with MATERIALIZED CTEs (each round's score frame is consumed by the
next round AND its own normalizer — the k-core double-reference
lesson, SCALE.md round-6 trap note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .fixpoint import fixpoint
from .pagerank import PAIRS_ORACLE_CTE, copurchase_edges_cached

HITS_ITERS = 3
HITS_TOP = 20
_DEC = "decimal(28,12)"


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (custkey, partkey) distinct purchase edges — the same
    pairs relation PAIRS_ORACLE_CTE describes. Decoded from the
    SHARED memoized undirected edge frame (copurchase_edges_cached
    doubles exactly these pairs with even=customer*2 / odd=part*2+1
    long encoding): the customer->part half is the even-src rows.
    Reusing the memo means one materialized edge frame serves all
    five graph operators instead of HITS keeping its own build path.
    Measured honestly: a WASH on wall-clock at sf0.1 (min-of-2 warm
    6.2 s vs 5.9 s, within noise — the three normalized rounds
    dominate, not the build); kept for the shared-materialization
    discipline and the single source of truth on the edge relation."""
    edges = copurchase_edges_cached(spark, sf_dir)
    return edges.filter(F.col("src") % 2 == 0).select(
        (F.col("src") / 2).cast("long").alias("c"),
        ((F.col("dst") - 1) / 2).cast("long").alias("p"),
    )


def _oracle() -> str:
    head = f"""
    WITH {PAIRS_ORACLE_CTE},
    hub0 AS MATERIALIZED (
        SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM pairs
    )"""
    its = ""
    for i in range(1, HITS_ITERS + 1):
        its += f""",
    araw{i} AS MATERIALIZED (
        SELECT e.p,
               CAST(sum(CAST(round(h.h, 12) AS DECIMAL(28,12))) AS DOUBLE) AS a
        FROM pairs e JOIN hub{i - 1} h ON e.c = h.c
        GROUP BY e.p
    ),
    anorm{i} AS (
        SELECT CAST(sum(CAST(round(a, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s
        FROM araw{i}
    ),
    auth{i} AS MATERIALIZED (
        SELECT p, round(a / (SELECT s FROM anorm{i}), 12) AS a FROM araw{i}
    ),
    hraw{i} AS MATERIALIZED (
        SELECT e.c,
               CAST(sum(CAST(round(a.a, 12) AS DECIMAL(28,12))) AS DOUBLE) AS h
        FROM pairs e JOIN auth{i} a ON e.p = a.p
        GROUP BY e.c
    ),
    hnorm{i} AS (
        SELECT CAST(sum(CAST(round(h, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s
        FROM hraw{i}
    ),
    hub{i} AS MATERIALIZED (
        SELECT c, round(h / (SELECT s FROM hnorm{i}), 12) AS h FROM hraw{i}
    )"""
    tail = f"""
    SELECT p AS partkey, a AS authority
    FROM auth{HITS_ITERS}
    ORDER BY authority DESC, partkey ASC
    LIMIT {HITS_TOP}
    """
    return head + its + tail


def _normalized(joined: DataFrame, key: str, score: str, out: str) -> DataFrame:
    """(key, out): ``score`` summed per ``key`` over the edge join, divided
    by its exact decimal total folded back as a one-row broadcast."""
    raw = joined.groupBy(key).agg(
        F.sum(F.round(score, 12).cast(_DEC)).cast("double").alias(out)
    )
    total = raw.agg(F.sum(F.round(out, 12).cast(_DEC)).cast("double").alias("s"))
    return raw.crossJoin(F.broadcast(total)).select(
        key, F.round(F.col(out) / F.col("s"), 12).alias(out)
    )


@query("graph_hits_authorities", oracle=_oracle())
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-HITS_TOP authority parts after HITS_ITERS normalized
    hub/authority rounds (module docstring)."""
    pairs = _purchase_pairs(spark, sf_dir).localCheckpoint(eager=True)
    hub = pairs.select("c").distinct().withColumn("h", F.lit(1.0))

    def authorities(hub: DataFrame) -> DataFrame:
        return _normalized(pairs.join(hub, "c"), "p", "h", "a")

    # the last hub update feeds nothing the query returns: HITS_ITERS - 1
    # full rounds, then the last authority update off the final hub
    hub, _ = fixpoint(
        hub,
        lambda hub: _normalized(pairs.join(authorities(hub), "p"), "c", "a", "h"),
        HITS_ITERS - 1,
    )
    auth = authorities(hub)
    return (
        auth.select(F.col("p").alias("partkey"), F.col("a").alias("authority"))
        .orderBy(F.desc("authority"), F.asc("partkey"))
        .limit(HITS_TOP)
    )
