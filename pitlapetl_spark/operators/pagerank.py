"""PageRank over the customer-part co-purchase bipartite graph — the
second iterative graph algorithm (after graph_cluster's connected
components): rank flows customer -> part -> customer across purchase
edges, surfacing the structurally central parts (not merely the most
purchased — a part bought by customers who themselves buy broadly
outranks one with the same degree bought by narrow customers).

Spark-first iterative shape (the ``fixpoint`` driver shared by every
iterative operator): a FIXED number of unrolled iterations, each ONE
edge join + ONE aggregate, with the rank frame cut once per round so
the plan holds one round however many run. At sf0.1 on 4 cores the
per-round cut measured 3.04 s (median of 3 warm runs) against 2.55 s
for a cut every third round.
The DuckDB oracle replays the exact same iterations as a
programmatically unrolled CTE chain — the kmeans precedent for
hash-checking an iterative operator against ANSI SQL.

Determinism contract: per-edge contributions are round(pr/outdeg, 12)
cast to DECIMAL(28,12) and summed EXACTLY (order-independent); the
damping update round(0.15/n + 0.85*sum, 12) is the same IEEE double
expression on both engines. The graph is undirected (both edge
directions), so every node has out-edges — no dangling-mass term.

100-TB notes: edges shuffle once per iteration on the src key and the
rank frame is one row per node; at scale pre-partition edges by src so
every iteration reuses the layout (the Pregel cost model). Iteration
count is fixed, not convergence-tested — at web scale you run ~10-20
fixed rounds for exactly this plan-stability reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .fixpoint import fixpoint

PR_ITERS = 4
PR_TOP = 20
_DEC = "decimal(28,12)"


# The co-purchase pair CTE, shared with the LPA oracle
# (operators/community.py) so the two graph oracles cannot drift from
# each other or from the Spark-side ``copurchase_edges`` definition.
PAIRS_ORACLE_CTE = """pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )"""


def _oracle() -> str:
    head = f"""
    WITH {PAIRS_ORACLE_CTE},
    edges AS (
        SELECT 'c' || CAST(c AS VARCHAR) AS src, 'p' || CAST(p AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 'p' || CAST(p AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM pairs
    ),
    deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS (
        SELECT d.src AS node, round(CAST(1.0 AS DOUBLE) / nn.n, 12) AS pr
        FROM deg d CROSS JOIN nn
    )"""
    its = ""
    for i in range(1, PR_ITERS + 1):
        its += f""",
    r{i} AS (
        SELECT e.dst AS node,
               round(CAST(0.15 AS DOUBLE) / nn.n
                     + CAST(0.85 AS DOUBLE)
                       * CAST(sum(CAST(round(r.pr / d.outdeg, 12)
                                       AS DECIMAL(28,12))) AS DOUBLE), 12) AS pr
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN deg d ON e.src = d.src
        CROSS JOIN nn
        GROUP BY e.dst, nn.n
    )"""
    tail = f"""
    SELECT CAST(substr(node, 2) AS BIGINT) AS part_key,
           pr AS rank
    FROM r{PR_ITERS}
    WHERE node LIKE 'p%'
    ORDER BY rank DESC, part_key ASC
    LIMIT {PR_TOP}
    """
    return head + its + tail


def bipartite_copurchase_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c = custkey, p = partkey) co-purchase bipartite frame,
    memoized via the shared fingerprint device (frame_cache). This is
    the ONE fact-scale join + distinct underneath the whole graph
    family: the long-keyed edge list (PageRank / LPA / k-core / HITS)
    is a narrow re-encoding of it, and Adamic-Adar consumes it
    directly — before round 7 Adamic-Adar re-ran the identical
    orders⋈lineitem + distinct pipeline on every invocation."""
    from .frame_cache import cached_frame

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
            .distinct()
        )

    return cached_frame(
        spark, sf_dir, "bipartite_copurchase", ("orders", "lineitem"), build
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer-part co-purchase edge list with LONG node
    ids (even = customer*2, odd = part*2+1) — shared by PageRank and
    label-propagation communities.

    Node encoding (round-5 measured rework, SCALE.md "PageRank cost
    shave"): distinct on the NUMERIC (custkey, partkey) pair before
    any labeling (the dedup shuffle hashes two longs, not two built
    strings), and nodes are LONGS so every downstream
    shuffle/join/agg hashes an 8-byte key instead of a
    variable-length string; measured -28% wall vs the string-node
    build at sf0.1, bit-identical PageRank output. The distinct pair
    frame itself comes from the shared memoized bipartite build
    (round 7), so its shuffle is paid once per source snapshot across
    the whole graph family."""
    pairs = bipartite_copurchase_cached(spark, sf_dir).select(
        (F.col("c") * 2).alias("cn"),
        (F.col("p") * 2 + 1).alias("pn"),
    )
    return pairs.select(F.col("cn").alias("src"), F.col("pn").alias("dst")).unionByName(
        pairs.select(F.col("pn").alias("src"), F.col("cn").alias("dst"))
    )


def copurchase_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped materialization of ``copurchase_edges`` —
    PageRank, label-propagation, k-core and HITS consume the SAME edge
    list, and each paid the full ~2.7 s orders-lineitem join +
    distinct floor on every invocation (together 16% of the r5 bench
    headline, VERDICT r5 item 3). Built once per (application, sf_dir,
    source-file fingerprint) and held as an EAGER localCheckpoint —
    the generic device now lives in frame_cache.cached_frame (round 7
    extracted it so triangle counting's basket-pair frame shares it);
    semantics, eviction, and the measured −25% A/B (SCALE.md round-6
    notes) are unchanged — bit-identical edges, same oracle CTE."""
    from .frame_cache import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "copurchase_edges",
        ("orders", "lineitem"),
        lambda: copurchase_edges(spark, sf_dir),
    )


# node-count broadcast gate of the graph loops: one or two longs per
# node is tens of MB at 1M rows, under default driver/broadcast limits
GRAPH_BROADCAST_MAX_NODES = 1_000_000


def _maybe_bcast(df: DataFrame, bound: int, gate: int = GRAPH_BROADCAST_MAX_NODES):
    return F.broadcast(df) if bound <= gate else df


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (node, pr) frame after PR_ITERS iterations — the library
    surface; the registered query below projects the part top-k.
    Exposed so invariants over ALL nodes (rank-mass conservation) are
    testable. Rank values are label-independent (the iteration
    arithmetic never sees the id), so the string-labeled oracle
    replays identical numbers over the long-encoded nodes."""
    edges = copurchase_edges_cached(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    deg = deg.localCheckpoint(eager=False)
    n = deg.count()  # node count: one driver-side long, not a data path
    ranks = deg.select(
        F.col("src").alias("node"),
        F.round(F.lit(1.0) / F.lit(n).cast("long"), 12).alias("pr"),
    )
    # The per-edge contribution round(pr/outdeg, 12) is computed at the
    # NODE grain (outdeg depends on src alone) and the (node, w) frame
    # joins the RAW memoized edge list: under the node-count gate both
    # node frames broadcast, so the only exchange per round is the
    # dst-key partial aggregate (guide §2.2: shuffle the node table,
    # not the edge table); past it the same joins shuffle on src.
    side = _maybe_bcast(deg, n)

    def step(ranks: DataFrame) -> DataFrame:
        w = ranks.join(side, ranks["node"] == deg["src"]).select(
            "node", F.round(F.col("pr") / F.col("outdeg"), 12).cast(_DEC).alias("w")
        )
        return (
            edges.join(_maybe_bcast(w, n), edges["src"] == w["node"])
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                F.round(
                    F.lit(0.15) / F.lit(n).cast("long")
                    + F.lit(0.85) * F.sum("w").cast("double"),
                    12,
                ).alias("pr")
            )
            .select(F.col("node2").alias("node"), "pr")
        )

    return fixpoint(ranks, step, PR_ITERS)[0]


@query("graph_pagerank_copurchase", oracle=_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PR_TOP parts by PageRank after PR_ITERS unrolled iterations
    over the undirected customer-part purchase graph."""
    return (
        pagerank_ranks(spark, sf_dir).filter(F.col("node") % 2 == 1)
        .select(
            ((F.col("node") - 1) / 2).cast("long").alias("part_key"),
            F.col("pr").alias("rank"),
        )
        .orderBy(F.desc("rank"), F.asc("part_key"))
        .limit(PR_TOP)
    )


# --------------------------- personalized PageRank (seed teleport)
#
# The recommendation variant: teleport mass restarts at a SEED set
# (one nation's customers) instead of uniformly, so rank concentrates
# in the seed neighborhood — "which parts matter to NATION_7's
# customers structurally", not globally. Two properties the global
# walk lacks, both exploited here:
#   - the rank frame is SPARSE: r0 is |seeds| rows and each iteration
#     only reaches nodes within one more hop, so early iterations
#     join a frame far smaller than the node set (at web scale this
#     sparsity IS why PPR is tractable per query);
#   - the teleport term lands only on seed rows, via a full outer
#     join of the contribution aggregate with the tiny seed frame.
# Same iteration/determinism devices as the global walk above (fixed
# unroll, decimal contribution sums, round-12 updates, memoized edge
# frame — in-process marginal cost is the joins alone).

PPR_SEED_NATION = "NATION_7"  # 3/73/626 seed customers at the 3 SFs
PPR_ITERS = 4
PPR_TOP = 20


def _ppr_oracle() -> str:
    head = f"""
    WITH {PAIRS_ORACLE_CTE},
    edges AS (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT p * 2 + 1, c * 2 FROM pairs
    ),
    deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ),
    seeds AS (
        SELECT DISTINCT cu.c_custkey * 2 AS node
        FROM customer cu
        JOIN nation n ON cu.c_nationkey = n.n_nationkey
        WHERE n.n_name = '{PPR_SEED_NATION}'
          AND cu.c_custkey * 2 IN (SELECT src FROM deg)
    ),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
    seedtp AS (
        SELECT s.node, round(CAST(0.15 AS DOUBLE) / ns.n, 12) AS tp
        FROM seeds s CROSS JOIN ns
    ),
    r0 AS (
        SELECT s.node, round(CAST(1.0 AS DOUBLE) / ns.n, 12) AS pr
        FROM seeds s CROSS JOIN ns
    )"""
    its = ""
    for i in range(1, PPR_ITERS + 1):
        its += f""",
    c{i} AS (
        SELECT e.dst AS node,
               CAST(sum(CAST(round(r.pr / d.outdeg, 12)
                             AS DECIMAL(28,12))) AS DOUBLE) AS contrib
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT coalesce(c.node, s.node) AS node,
               round(coalesce(s.tp, CAST(0.0 AS DOUBLE))
                     + CAST(0.85 AS DOUBLE)
                       * coalesce(c.contrib, CAST(0.0 AS DOUBLE)), 12) AS pr
        FROM c{i} c FULL OUTER JOIN seedtp s ON s.node = c.node
    )"""
    tail = f"""
    SELECT CAST((node - 1) / 2 AS BIGINT) AS part_key, pr AS rank
    FROM r{PPR_ITERS}
    WHERE node % 2 = 1
    ORDER BY rank DESC, part_key ASC
    LIMIT {PPR_TOP}
    """
    return head + its + tail


@query("graph_pagerank_personalized", oracle=_ppr_oracle())
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PPR_TOP} parts by {PPR_SEED_NATION}-personalized PageRank
    (block comment above)."""
    edges = copurchase_edges_cached(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == PPR_SEED_NATION
    )
    seeds = (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .select((F.col("c_custkey") * 2).alias("node"))
        .join(deg.select(F.col("src").alias("node")), "node", "left_semi")
        .distinct()
        .localCheckpoint(eager=True)  # tiny; reused every iteration
    )
    ns = seeds.count()  # bounded driver scalar (node-count discipline)
    seedtp = seeds.select(
        "node", F.round(F.lit(0.15) / ns, 12).alias("tp")
    )
    r = seeds.select("node", F.round(F.lit(1.0) / ns, 12).alias("pr"))

    def step(r: DataFrame) -> DataFrame:
        contrib = (
            edges.join(r, edges.src == r.node)
            .join(deg, "src")
            .select(
                "dst",
                F.round(F.col("pr") / F.col("outdeg"), 12)
                .cast(_DEC)
                .alias("w"),
            )
            .groupBy("dst")
            .agg(F.sum("w").cast("double").alias("contrib"))
        )
        return (
            contrib.withColumnRenamed("dst", "cnode")
            .join(seedtp, F.col("cnode") == F.col("node"), "full_outer")
            .select(
                F.coalesce(F.col("cnode"), F.col("node")).alias("node"),
                F.round(
                    F.coalesce(F.col("tp"), F.lit(0.0))
                    + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0)),
                    12,
                ).alias("pr"),
            )
        )

    r, _ = fixpoint(r, step, PPR_ITERS)
    return (
        r.filter(F.col("node") % 2 == 1)
        .select(
            ((F.col("node") - 1) / 2).cast("long").alias("part_key"),
            F.col("pr").alias("rank"),
        )
        .orderBy(F.desc("rank"), F.asc("part_key"))
        .limit(PPR_TOP)
    )
