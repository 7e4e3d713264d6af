"""Label-propagation community detection (LPA, Raghavan et al. 2007)
over the customer-part co-purchase graph — the third iterative graph
operator (after connected components, graph_cluster.py, and PageRank,
pagerank.py): communities are label fixpoints under "adopt the most
frequent neighbor label", surfacing co-purchase cliques rather than
mere connectivity (CC) or centrality (PageRank).

Determinism contract (classic LPA is notoriously order-dependent —
asynchronous updates + random tie-breaks): this is the SYNCHRONOUS
variant with a total tie-break (neighbor-label count DESC, label ASC),
run for a FIXED number of unrolled rounds — fully deterministic, so
the DuckDB oracle replays the exact same label evolution as an
unrolled CTE chain (the kmeans/pagerank precedent for hash-checking
iterative algorithms).

Spark-first iterative shape: each round is ONE src-key edge join +
TWO hash aggregates — (dst, label) counts, then per-dst argmax via a
struct max (max_by semantics with the tie-break encoded as
(count, -label), so NO per-dst sort window) — all map-side-combinable.
Labels are one row per node, the round state of the shared
``fixpoint`` driver, cut once per round.

100-TB shape: identical to PageRank's Pregel cost model — edges
shuffle once per round on the src key, label frames are node-sized,
node ids are 8-byte longs (shared ``copurchase_edges`` encoding).
Fixed rounds, not convergence-tested, for plan stability at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .fixpoint import fixpoint
from .pagerank import PAIRS_ORACLE_CTE, _maybe_bcast, copurchase_edges_cached

LPA_ROUNDS = 3


def _oracle() -> str:
    head = f"""
    WITH {PAIRS_ORACLE_CTE},
    edges AS (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT p * 2 + 1, c * 2 FROM pairs
    ),
    l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    its = ""
    for i in range(1, LPA_ROUNDS + 1):
        its += f""",
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
            FROM (
                SELECT e.dst AS node, l.label, count(*) AS cnt
                FROM edges e JOIN l{i - 1} l ON e.src = l.node
                GROUP BY e.dst, l.label
            )
        ) WHERE rn = 1
    )"""
    tail = f"""
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_parts,
           CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_customers
    FROM l{LPA_ROUNDS}
    GROUP BY label
    """
    return head + its + tail


@query("graph_label_propagation", oracle=_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community profile after LPA_ROUNDS synchronous label-propagation
    rounds: per surviving community label, how many nodes adopted it
    and the part/customer split. Every node starts as its own
    community; each round every node adopts its most frequent
    neighbor label (ties -> smallest label)."""
    edges = copurchase_edges_cached(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    size = {}

    def step(labels: DataFrame) -> DataFrame:
        # The label frame (two longs per node) broadcasts under the
        # node-count gate, so the only exchange per round is the map-
        # side-combined (dst, label) count, not the full edge frame.
        # Rounds keep the node set: count once, on the cut initial
        # frame, which that count also stores.
        if "n" not in size:
            size["n"] = labels.count()
        lside = _maybe_bcast(labels, size["n"])
        counted = (
            edges.join(lside, edges.src == lside.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # per-node argmax with total tie-break as ONE struct max —
        # maximize (cnt, -label) => highest count, then smallest label;
        # max_by-equivalent, no per-node sort window
        return (
            counted.groupBy("n2")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("m")
            )
            .select(
                F.col("n2").alias("node"), (-F.col("m.neg")).alias("label")
            )
        )

    labels, _ = fixpoint(labels, step, LPA_ROUNDS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("node") % 2 == 1).cast("long")).alias("n_parts"),
        F.sum((F.col("node") % 2 == 0).cast("long")).alias("n_customers"),
    )


TRI_TOP = 20
TRI_BROADCAST_MAX_EDGES = 5_000_000  # ~80 MB of two longs; past this, shuffle-close
TRI_BROADCAST_MAX_NODES = 5_000_000  # degree-frame gate (one row per part)


def basket_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) distinct part-part co-purchase edges from
    the basket-key co-partitioned self-join (market_basket_pairs'
    bounded-pair-space discipline) — shared by triangle counting and
    link prediction."""
    li = load_table(spark, sf_dir, "lineitem")
    bk = li.select("l_orderkey", "l_partkey").distinct()
    a = bk.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = bk.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )


def basket_pair_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized eager materialization of ``basket_pair_edges`` via the
    shared fingerprint device (frame_cache.cached_frame, VERDICT r6
    item 5): triangle counting — the headline's most expensive query —
    rebuilt the same distinct part-part frame on every invocation, so
    repeated runs (and any future second consumer) re-paid the
    fact-scale self-join + distinct. Bit-identical edges, same oracle
    CTE; measured A/B in SCALE.md round-7 notes."""
    from .frame_cache import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "basket_pair_edges",
        ("lineitem",),
        lambda: basket_pair_edges(spark, sf_dir),
    )


# The distinct part-part co-purchase pairs (pa < pb) as DuckDB CTEs,
# the oracle side of basket_pair_edges; with the degree-oriented
# triangles on top for the triangle queries. PAIRS_ORACLE_CTE
# (pagerank.py) is the customer-part twin.
BASKET_PAIRS_ORACLE_CTES = """bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM bk a JOIN bk b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )"""
TRIANGLE_ORACLE_CTES = BASKET_PAIRS_ORACLE_CTES + """,
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs)
        GROUP BY 1
    ),
    ori AS (
        SELECT CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS u,
               CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS v
        FROM pairs
        JOIN deg da ON pa = da.node
        JOIN deg db ON pb = db.node
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM ori e1
        JOIN ori e2 ON e1.v = e2.u
        JOIN ori e3 ON e3.u = e1.u AND e3.v = e2.v
    )"""


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {TRIANGLE_ORACLE_CTES},
    nodes AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node AS part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY 1
    ORDER BY n_triangles DESC, part_key ASC
    LIMIT {TRI_TOP}
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top parts by TRIANGLE participation in the co-purchase
    part-part graph (parts sharing an order) — the clustering-
    coefficient ingredient behind community tightness and
    recommendation quality metrics. The algorithm is the MapReduce-
    classic degree-ordered orientation (Suri & Vassilvitskii's
    node-iterator++): every undirected edge is directed from the
    (degree, id)-SMALLER endpoint to the larger, which makes each
    triangle countable exactly once as a wedge u->v, v->w closed by
    u->w, and — the scale property — bounds per-node wedge fan-out by
    the graph's arboricity: the out-degree of a heavy hub becomes
    O(sqrt(E)) instead of its raw degree, so the wedge join never
    explodes on the skewed nodes that dominate real co-purchase
    graphs.

    100-TB shape: pair generation is the basket-key co-partitioned
    self-join (bounded by basket size, market_basket_pairs'
    discipline); degrees are a part-cardinality aggregate BROADCAST
    back onto the part key; the oriented edge frame is materialized
    once (localCheckpoint) because three joins consume it; the wedge
    join shuffles edge-sized frames only, and the closing join
    broadcasts the edge set under the footer-count gate below (past
    it: plain equi-join shuffle — the published MapReduce form).
    Top-k is TakeOrderedAndProject. Nothing is all-pairs."""
    tcnt = triangle_node_counts_cached(spark, sf_dir)
    return (
        tcnt.select(
            F.col("node").alias("part_key"), F.col("t").alias("n_triangles")
        )
        .orderBy(F.desc("n_triangles"), F.asc("part_key"))
        .limit(TRI_TOP)
    )


def basket_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, d): undirected degree of every part in the basket
    co-purchase graph — one agg over the cached edge frame."""
    pairs = basket_pair_edges_cached(spark, sf_dir)
    return (
        pairs.select(F.col("pa").alias("node"))
        .unionByName(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _triangle_node_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, t) per-node triangle participation — the full
    degree-ordered-orientation wedge pipeline (docstring at
    graph_triangle_count). Uncached builder; consumers go through
    ``triangle_node_counts_cached`` (triangle top-k AND the local
    clustering coefficient read the SAME frame — round 7 lifted the
    memo from the edge list to the counted frame after the bench
    showed the wedge join itself, not the edge build, dominating both
    queries)."""
    from ..sources import parquet_row_count

    pairs = basket_pair_edges_cached(spark, sf_dir)
    # both broadcast decisions below read their bounds for FREE from
    # parquet footers (market_basket_pairs' gate discipline — no
    # unconditional broadcast of a catalog-scale relation):
    # deg has one row per distinct part <= |part|; the oriented edge
    # set is <= distinct (order, part) <= |lineitem|
    n_deg_bound = parquet_row_count(f"{sf_dir}/part.parquet")
    n_edges_bound = parquet_row_count(f"{sf_dir}/lineitem.parquet")

    deg = basket_degrees(spark, sf_dir)
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    lesser = F.struct("da", "pa") < F.struct("db", "pb")
    # deg is part-cardinality (catalog dimension scale) -> broadcast
    # only under the footer gate above;
    # ori is consumed THREE times by the wedge/closing joins, so it is
    # materialized once (localCheckpoint) instead of re-deriving the
    # whole pairs+degree pipeline per consumer — measured 13.5 s -> a
    # few s at sf0.01 from exactly this reuse
    ori = (
        pairs.join(_maybe_bcast(da, n_deg_bound, TRI_BROADCAST_MAX_NODES), "pa")
        .join(_maybe_bcast(db, n_deg_bound, TRI_BROADCAST_MAX_NODES), "pb")
        .select(
            F.when(lesser, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(lesser, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    e1 = ori.select(F.col("u").alias("t_a"), F.col("v").alias("t_b"))
    e2 = ori.select(F.col("u").alias("t_b"), F.col("v").alias("t_c"))
    e3 = ori.select(F.col("u").alias("t_a"), F.col("v").alias("t_c"))
    # the wedge frame (sum of outdeg² rows) is the BIG intermediate;
    # closing it against the edge SET must not shuffle it. The edge
    # list is orders of magnitude smaller than the wedges — broadcast
    # it under a size gate read for FREE from the lineitem parquet
    # footer (edge count <= distinct (order, part) <= fact rows; the
    # exact-count gate discipline of market_basket_pairs, no extra
    # job); past the gate the closing join falls back to the plain
    # equi-join shuffle, which is the published MapReduce form of the
    # algorithm.
    closing = F.broadcast(e3) if n_edges_bound <= TRI_BROADCAST_MAX_EDGES else e3
    tri = e1.join(e2, "t_b").join(closing, ["t_a", "t_c"])
    # ONE pass: explode each triangle into its three participants —
    # a union of three projections of `tri` would re-derive the whole
    # wedge pipeline per branch (measured 3x the wedge cost at sf0.1)
    nodes = tri.select(
        F.explode(F.array("t_a", "t_b", "t_c")).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("t"))


def triangle_node_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (node, t) triangle-participation frame via the shared
    fingerprint device (frame_cache)."""
    from .frame_cache import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "basket_triangle_counts",
        ("lineitem",),
        lambda: _triangle_node_counts(spark, sf_dir),
    )


# ------------------------------------- local clustering coefficient
# The per-node derivative of the triangle machinery: cc(v) =
# 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each part's co-purchase
# neighborhood is to a clique, the community-tightness score behind
# "bought-together" bundle candidates. Same oriented-wedge plan as
# graph_triangle_count (shared `_node_triangle_counts`, one cached
# edge build); the only additions are the degree join and an exact
# integer cc representation: cc_ppm = (2·tri·10⁶) div (deg·(deg−1)) —
# ranking and value are integer-exact on both engines, no
# round-on-double boundary anywhere (the LTV-curve lesson).

CC_MIN_DEG = 10  # below this, cc is dominated by tiny-neighborhood noise
CC_TOP = 25


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {TRIANGLE_ORACLE_CTES},
    tcnt AS (
        SELECT node, CAST(count(*) AS BIGINT) AS t
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY 1
    )
    SELECT deg.node AS part_key, deg.d AS degree,
           coalesce(tcnt.t, 0) AS n_triangles,
           CAST((2 * coalesce(tcnt.t, 0) * 1000000)
                // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    WHERE deg.d >= {CC_MIN_DEG}
    ORDER BY cc_ppm DESC, part_key ASC
    LIMIT {CC_TOP}
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top parts by local clustering coefficient in the co-purchase
    graph, among parts with degree >= {CC_MIN_DEG} (block comment
    above). Consumes the SAME memoized (node, triangles) frame as
    graph_triangle_count plus the degree agg over the cached edge
    frame — at 100 TB the wedge pipeline runs once per source
    snapshot and this query is two dimension-scale joins."""
    deg = basket_degrees(spark, sf_dir)
    tcnt = triangle_node_counts_cached(spark, sf_dir)
    t = F.coalesce(F.col("t"), F.lit(0))
    return (
        deg.join(tcnt, "node", "left")
        .filter(F.col("d") >= CC_MIN_DEG)
        .select(
            F.col("node").alias("part_key"),
            F.col("d").alias("degree"),
            t.alias("n_triangles"),
            F.expr(f"(2 * coalesce(t, 0L) * 1000000L) div (d * (d - 1))")
            .alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.asc("part_key"))
        .limit(CC_TOP)
    )
