"""K-core decomposition of the co-purchase graph — iterative peeling.

Fourth member of the iterative-graph family (PageRank, label
propagation, connected components): repeatedly delete nodes whose
degree *within the surviving subgraph* is below K until a fixed point;
what survives is the K-core. In corpus/web-graph pipelines the k-core
is the standard "structurally dense backbone" filter (spam rings and
one-off crawl artifacts fall out of the core; communities and hub
structure stay in), the graph analog of the text family's quality
gates. No reference anchor — the reference has no graph surface
(SURVEY.md §2.5 stops at lookup joins); north-star extension.

Spark-first iterative shape: the edge frame is built ONCE
(``copurchase_edges_cached``, shared with PageRank/LPA — the staged-MV
move from SCALE.md round-6) and each round is two semi-joins of edges
against the O(nodes) alive set plus ONE map-side-combinable count
aggregate, on the shared ``fixpoint`` driver: the alive frame is the
round state, and its count is the convergence fingerprint; the loop
raises past KCORE_MAX_ROUNDS instead of returning an unconverged
core.

100-TB notes: per round the edge scan is the dominant cost; edges
shuffle (or broadcast-probe while the alive set fits — at web scale
the alive frame is node-count-sized, so the semi-joins shuffle on
src/dst and pre-partitioning edges by src amortizes the layout across
rounds, the Pregel cost model). Peeling rounds for a fixed K are
small in practice (measured 4–6 at every sf here; worst case is
O(peeling depth), not O(diameter)). K is a parameter; at corpus scale
you sweep it upward until the core stops shrinking meaningfully.

Oracle: programmatically unrolled CTE chain (the
kmeans/PageRank/LPA precedent) running ORACLE_ROUNDS rounds — peeling
is idempotent at the fixed point, so as long as the Spark side
converges within ORACLE_ROUNDS (asserted: the Spark loop raises past
KCORE_MAX_ROUNDS = ORACLE_ROUNDS) both engines compute the identical core.
Counts are exact integers — no float drift anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .fixpoint import fixpoint
from .pagerank import PAIRS_ORACLE_CTE, _maybe_bcast, copurchase_edges_cached

KCORE_K = 20
# Spark raises past this; the oracle unrolls exactly this many rounds.
# Measured fixpoint depth at K=20: sf0.001 -> 6, sf0.01 -> 4, sf0.1 -> 5.
KCORE_MAX_ROUNDS = 10


def kcore_nodes(spark: SparkSession, sf_dir: str, k: int = KCORE_K) -> DataFrame:
    """(node, core_deg) for the k-core of the co-purchase graph —
    library surface over the shared long-encoded edge frame. Raises
    ``NotConverged`` past KCORE_MAX_ROUNDS peeling rounds."""
    edges = copurchase_edges_cached(spark, sf_dir)
    # The alive set (one LONG per node) broadcasts into both semi-joins
    # under the node-count gate, on the size the last round counted: the
    # only exchange per round is then the partial degree count, where a
    # shuffle plan moves the edge frame twice (src then dst key).
    size = {}

    def count(core: DataFrame) -> int:
        size["n"] = core.count()
        return size["n"]

    def peel(core: DataFrame) -> DataFrame:
        alive = _maybe_bcast(core.select("src"), size["n"])
        return (
            edges.join(alive, "src", "left_semi")
            .join(alive.select(F.col("src").alias("dst")), "dst", "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
        )

    # round 0: plain degree; a round that keeps every node is the
    # fixpoint, each survivor's deg then being its in-core degree
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    core, _ = fixpoint(deg.filter(F.col("deg") >= k), peel, KCORE_MAX_ROUNDS, count)
    return core.select(F.col("src").alias("node"), F.col("deg").alias("core_deg"))


def _oracle() -> str:
    # Every alive{i} is consumed TWICE by the next round (src and dst
    # side) — without MATERIALIZED, DuckDB's CTE inlining re-expands
    # the whole chain per reference (2^rounds blowup, observed: the
    # un-annotated oracle never finished; materialized it runs in
    # 0.2 s at sf0.01).
    head = f"""
    WITH {PAIRS_ORACLE_CTE},
    edges AS MATERIALIZED (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT p * 2 + 1, c * 2 FROM pairs
    ),
    deg0 AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    alive0 AS MATERIALIZED (SELECT src FROM deg0 WHERE deg >= {KCORE_K})"""
    its = ""
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        its += f""",
    deg{i} AS MATERIALIZED (
        SELECT e.src, count(*) AS deg
        FROM edges e
        JOIN alive{i - 1} a ON e.src = a.src
        JOIN alive{i - 1} b ON e.dst = b.src
        GROUP BY e.src
    ),
    alive{i} AS MATERIALIZED (SELECT src FROM deg{i} WHERE deg >= {KCORE_K})"""
    tail = f"""
    SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'part' END AS entity,
           src // 2 AS entity_key,
           CAST(deg AS BIGINT) AS core_deg
    FROM deg{KCORE_MAX_ROUNDS}
    WHERE deg >= {KCORE_K}
    ORDER BY entity, entity_key
    """
    return head + its + tail


@query("graph_kcore_decomposition", oracle=_oracle())
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K-core of the co-purchase graph with each member's in-core
    degree, decoded to (entity, entity_key)."""
    core = kcore_nodes(spark, sf_dir)
    return core.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer")).otherwise(F.lit("part")).alias("entity"),
        (F.col("node") / F.lit(2)).cast("long").alias("entity_key"),
        F.col("core_deg").cast("long").alias("core_deg"),
    ).orderBy("entity", "entity_key")
