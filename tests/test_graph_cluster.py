"""Connected components by alternating big-star/small-star (Kiveris et
al. 2014): labels are each component's min id, reached in O(log n)
iterations whatever the component's diameter — including the long
chain a crawl of mirrors of mirrors produces."""

from __future__ import annotations

from pyspark.sql import functions as F

from pitlapetl_spark.operators.graph_cluster import (
    _alternating_star,
    connected_components,
)


def _labels(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def test_cc_path_graph_converges_in_log_rounds(spark):
    """A 200-node path: propagating the min label one hop per round
    would need 199 rounds, and a capped loop would hand back node 199
    labelled with whatever the cap reached. Alternating-star must
    label the whole chain 0 within O(log n) iterations."""
    n = 200
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    assert _labels(connected_components(pairs)) == [(i, 0) for i in range(n)]
    _, rounds = _alternating_star(pairs, "doc_a", "doc_b")
    assert rounds <= 12  # ~log2(200)=7.6 plus the fixpoint-confirm pass


def test_fast_cc_multi_component_and_star_shapes(spark):
    """Mixed shapes in one edge list: two disjoint chains and a star;
    labels must be each component's min id, every vertex present
    exactly once."""
    edges = [
        # chain 10-11-12-13
        (11, 10), (11, 12), (12, 13),
        # star centered high, min at a leaf
        (100, 7), (100, 8), (100, 9),
        # 2-cycle duplicate edge both orientations
        (50, 51), (51, 50),
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = dict(_labels(connected_components(pairs)))
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10,
        7: 7, 8: 7, 9: 7, 100: 7,
        50: 50, 51: 50,
    }
