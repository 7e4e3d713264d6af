"""Deterministic k-means (Lloyd's algorithm) over the embeddings
table — the iterative-algorithm surface of the engine, driver-verified
against a DuckDB oracle that replays the exact same unrolled
iterations in SQL.

Making an iterative clustering algorithm hash-reproducible across two
engines requires pinning every source of drift:

- **init**: centroids are the K embeddings with the smallest vec_id —
  no RNG (kmeans++ sampling would diverge across engines).
- **argmin ties**: nearest-centroid assignment orders by (distance,
  centroid_id) — a total order, so equidistant points break the same
  way everywhere.
- **float accumulation**: squared-L2 distances and per-dimension
  centroid means are ``round(6)``-ed on BOTH sides, absorbing the
  last-ulp differences of summation order.

Scale shape (the MLlib/Spark-canonical one): each assignment is a
broadcast of the K x D centroid relation (model-sized, tiny) against
one narrow pass over N vectors — no shuffle of the embedding table
ever; each update is one (cluster, dim) aggregate. The K-row centroid
relation is the round state of the shared ``fixpoint`` driver, cut
once per round. Unrolled to KMEANS_ITERS fixed iterations:
convergence-based stopping would make the plan (and the oracle)
data-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .fixpoint import fixpoint

KMEANS_K = 8
KMEANS_ITERS = 2  # (assign, update) rounds before the final assignment
ROUND_P = 6


def _centroid_init(emb: DataFrame) -> DataFrame:
    """K seed centroids = embeddings of the K smallest vec_ids, given
    dense ids 0..K-1 in vec_id order. K rows — the single-partition
    window is over a model-sized relation, not data."""
    w = Window.orderBy("vec_id")
    return (
        emb.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            (F.row_number().over(w) - 1).alias("cid"),
            F.col("v").alias("c"),
        )
    )


def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the K centroids, one
    narrow pass computes K rounded squared-L2 distances per vector,
    min(struct(d, cid)) picks the (distance, id)-ordered argmin."""
    d = F.round(
        F.aggregate(
            F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        ROUND_P,
    )
    return (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("d", d)
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d", "cid")).getField("cid").alias("cid"),
            F.first("v").alias("v"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids = per-(cluster, dimension) mean, rounded, folded
    back into array form. Clusters that lost every member disappear —
    the oracle's join-based update drops them identically."""
    long = assigned.select("cid", F.posexplode("v").alias("i", "x"))
    means = long.groupBy("cid", "i").agg(F.round(F.avg("x"), ROUND_P).alias("m"))
    return (
        means.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s.getField("m"),
            ).alias("c")
        )
    )


def _oracle_kmeans() -> str:
    assign = """
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               round(sum((e.x - c.x) * (e.x - c.x)), {p}) AS d
        FROM e JOIN {cent} c USING (i)
        GROUP BY e.vec_id, c.cid
    ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    """
    update = """
    SELECT a.cid, e.i, round(avg(e.x), {p}) AS x
    FROM e JOIN {assign} a USING (vec_id)
    GROUP BY 1, 2
    """
    sql = f"""
    WITH e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(dense_rank() OVER (ORDER BY s.vec_id) - 1 AS INT) AS cid,
               e.i, e.x
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}) s
        JOIN e ON e.vec_id = s.vec_id
    ),
    a1 AS ({assign.format(p=ROUND_P, cent="c0")}),
    c1 AS ({update.format(p=ROUND_P, assign="a1")}),
    a2 AS ({assign.format(p=ROUND_P, cent="c1")}),
    c2 AS ({update.format(p=ROUND_P, assign="a2")}),
    a3 AS ({assign.format(p=ROUND_P, cent="c2")})
    SELECT vec_id, CAST(cid AS INT) AS cluster FROM a3
    """
    return sql


@query("kmeans_lloyd_clusters", oracle=_oracle_kmeans())
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignment after KMEANS_ITERS unrolled Lloyd
    iterations with deterministic init (module docstring). The oracle
    replays the identical iterations long-form in SQL — a green hash
    proves a full iterative ML algorithm end-to-end across engines."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # the narrow (vec_id, v) frame feeds the init and every assignment
    # pass: cut once, so no pass re-scans the parquet and re-runs the
    # double cast (guide §1.2: pay the scan once per invocation)
    emb = emb.localCheckpoint(eager=False)
    cent, _ = fixpoint(
        _centroid_init(emb), lambda cent: _update(_assign(emb, cent)), KMEANS_ITERS
    )
    final = _assign(emb, cent)
    return final.select("vec_id", F.col("cid").cast("int").alias("cluster"))
