"""Dedup clustering: connected components over the near-dup pair
graph — the step that turns pairwise matches (dedup_ngram_jaccard /
dedup_minhash_lsh) into keep-one-per-cluster decisions.

Spark-first iterative algorithm (no GraphFrames dependency):
alternating large-star/small-star contraction (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond"). Each iteration
rewires every edge toward the minimum of its endpoint's
neighbourhood, so the edge list contracts to one star per component,
rooted at the component's minimum id, in O(log n) iterations whatever
the component's diameter. That matters for dedup graphs, whose shape
the corpus decides: a chain of mirrors of mirrors is a long path, and
propagating the minimum label one hop per round would need as many
rounds as the chain is long. Each iteration is a few joins and
aggregates over the edge list, cut with ``localCheckpoint`` so the
plan does not grow; convergence is an edge-set fingerprint, and the
loop RAISES if it has not converged after MAX_ROUNDS_FAST iterations
rather than return unconverged labels.

The oracle replays the fixpoint with a recursive CTE (transitive
closure -> min reachable id), so even this iterative, driver-loop
operator is hash-checked against ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .dedup import _PAIR_JACCARD_SQL, dedup_ngram_jaccard

MAX_ROUNDS_FAST = 40  # ~2 log2(n) alternating iterations suffice; assert, not truncate


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (hi, lo) orientation, no
    self-loops, distinct — the shape both star steps and the
    convergence fingerprint work over."""
    return (
        edges.select(
            F.greatest("x", "y").alias("x"), F.least("x", "y").alias("y")
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Kiveris et al. 2014 large-star: every node u connects each
    strictly-LARGER neighbor to the minimum of N(u) ∪ {u}. Needs the
    full neighborhood, so the edge list is symmetrized first."""
    sym = edges.select("x", "y").unionByName(
        edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    mins = (
        sym.groupBy("x")
        .agg(F.min("y").alias("mn"))
        .select("x", F.least("mn", "x").alias("m"))
    )
    return _canon(
        sym.join(mins, "x")
        .filter(F.col("y") > F.col("x"))
        .select(F.col("y").alias("x"), F.col("m").alias("y"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Kiveris et al. 2014 small-star: orient edges high->low; every
    node u connects its (all smaller) neighbors AND itself to the
    minimum neighbor."""
    dird = _canon(edges)  # (x=hi, y=lo): N(x) here is all-smaller
    mins = dird.groupBy("x").agg(F.min("y").alias("m"))
    nbr = dird.join(mins, "x").select(F.col("y").alias("x"), F.col("m").alias("y"))
    self_edge = mins.select("x", F.col("m").alias("y"))
    return _canon(nbr.unionByName(self_edge))


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex of an undirected pair
    list, cluster_id = min vertex id in its component (module
    docstring: alternating star contraction, O(log n) iterations
    regardless of component diameter)."""
    labels, _ = _alternating_star(pairs, a, b)
    return labels


def _alternating_star(pairs: DataFrame, a: str, b: str) -> tuple[DataFrame, int]:
    """(labels, iterations): the labels ``connected_components``
    returns and the number of star iterations it took to reach the
    fixpoint (the last one confirms it)."""
    nodes = (
        pairs.select(F.col(a).alias("doc_id"))
        .unionByName(pairs.select(F.col(b).alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    edges = _canon(
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
    ).localCheckpoint()
    # fingerprint = (edge count, order-independent hash xor): ONE
    # cheap action per iteration decides convergence (xor, not sum —
    # summing xxhash64 longs overflows under ANSI mode)
    def fp(e: DataFrame):
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("x", "y")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    cur = fp(edges)
    rounds = 0
    for _ in range(MAX_ROUNDS_FAST):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        rounds += 1
        nxt = fp(edges)
        if nxt == cur:
            break
        cur = nxt
    else:
        raise RuntimeError(
            f"alternating-star did not converge in {MAX_ROUNDS_FAST} "
            f"iterations — not a diameter problem (that is the point "
            f"of this algorithm); investigate the edge data"
        )
    # fixpoint edges are (child=hi, root=lo) stars rooted at the
    # component minimum; isolated-in-pair-graph roots label themselves
    parents = edges.groupBy(F.col("x").alias("doc_id")).agg(
        F.min("y").alias("root")
    )
    labels = nodes.join(parents, "doc_id", "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("cluster_id")
    )
    return labels, rounds


# the fixpoint replayed as a recursive-CTE transitive closure -> min
# reachable id
_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_PAIR_JACCARD_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS doc FROM edges),
    reach(u, v) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, min(v) AS cluster_id
    FROM reach
    GROUP BY u
    """


@query("dedup_cluster_components", oracle=_CC_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup clusters: connected components over the
    exact-Jaccard pair graph; every doc in a cluster maps to the
    cluster's min doc_id (the canonical keeper). The iterative Spark
    fixpoint must equal the oracle's recursive-CTE transitive
    closure."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return connected_components(pairs)


query("dedup_cluster_components_fast", oracle=_CC_ORACLE)(dedup_cluster_components)
