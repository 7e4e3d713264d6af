"""Product-quantization ANN (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search") — the memory-compressed member of the
similarity family (next to brute-force, sign-LSH, multi-probe LSH and
IVF-flat in similarity.py): vectors are stored as M small codes, and
search scans CODES with a per-query lookup table instead of floats.

Spark-first decomposition, with the SUBSPACE AS A GROUPING COLUMN —
the key trick that keeps both the plan and the oracle M-independent:
instead of unrolling M per-subspace k-means runs, every stage keys on
(subspace, ...) and one kmeans-shaped pass trains all M codebooks at
once (same assign/update bodies as kmeans.py, one extra key).

- **Train**: deterministic init (codewords = subvectors of the Ks
  smallest vec_ids — the kmeans.py no-RNG device), then PQ_ITERS
  Lloyd rounds keyed by (s, cid).
- **Encode**: nearest codeword per (vector, subspace) — broadcast of
  the M x Ks codebook (model-sized), one narrow pass; output is
  M codes per vector: the compressed index, 4 bytes standing in for
  512 bytes of floats at these parameters.
- **ADC search**: the query computes an M x Ks distance TABLE (32
  rows here), broadcast; each corpus vector's approximate distance is
  the sum of M table lookups — a code-table equi-join + sum, never a
  float-vector pass over the corpus.

Determinism contract (kmeans.py's, plus one addition): all distance
sums round(6); the ADC total is a sum of exactly M rounded values
whose ACCUMULATION ORDER differs between engines, so each lookup is
cast to DECIMAL(18,6) first and summed exactly — the last-ulp hazard
the 4-term double sum would otherwise reintroduce.

100-TB shape: training touches a sample-sized relation in practice
(here: all 500); encode is one broadcast-join pass over the corpus;
the search path scans the CODES table (M small ints per vector — the
point of PQ: ~128x smaller than the float vectors) with a 32-row
broadcast; top-k is TakeOrderedAndProject. Nothing shuffles the
embedding table; at IVF+PQ scale the codes table is further pruned by
the IVF probe's equi-join (similarity.py) before ADC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .fixpoint import fixpoint

# Parameters re-chosen in round 7 from a measured recall sweep
# (SCALE.md "ANN recall ladder"): the original M=4 x Ks=8, 1 Lloyd
# round config had recall@10 = 0.00 against exact L2 at sf0.1 —
# deterministic and cheap, but a useless index. M=16 x Ks=16 with 3
# rounds measures recall@10 = 0.40 (0.60 needs Ks=64 at ~3x the
# training cost — the knee is here); training is amortized across
# invocations by the fingerprint memo below, the same offline-train /
# online-search split FAISS assumes.
PQ_M = 16  # subspaces
PQ_SUBDIM = 4  # dims per subspace (embedding dim 64 = M * SUBDIM)
PQ_KS = 16  # codewords per subspace
PQ_ITERS = 3  # Lloyd rounds after deterministic init
PQ_TOP = 10
ROUND_P = 6
_DT_DEC = "decimal(18,6)"


def _subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, s, subv): each vector exploded into its M subspace
    slices — a narrow array expression, no shuffle."""
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("v", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("subv"),
            )
            for s in range(PQ_M)
        ]
    )
    return emb.select("vec_id", F.explode(slices).alias("p")).select(
        "vec_id", "p.s", "p.subv"
    )


def _codebook_init(sub: DataFrame) -> DataFrame:
    """(s, cid, c): codeword cid of every subspace initialized from
    the subvector of the cid-th smallest vec_id (kmeans.py's no-RNG
    init, replicated per subspace)."""
    w = Window.partitionBy("s").orderBy("vec_id")
    seeds = (
        sub.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_KS)
        .select("s", (F.col("rn") - 1).alias("cid"), F.col("subv").alias("c"))
    )
    return seeds


def _sub_dist() -> F.Column:
    return F.round(
        F.aggregate(
            F.zip_with("subv", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        ROUND_P,
    )


def _assign_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, s, cid, subv): nearest codeword per (vector,
    subspace); broadcast codebook, (distance, cid) total-order
    argmin via one struct min."""
    return (
        sub.join(F.broadcast(cb), "s")
        .withColumn("d", _sub_dist())
        .groupBy("vec_id", "s")
        .agg(
            F.min(F.struct("d", "cid")).getField("cid").alias("cid"),
            F.first("subv").alias("subv"),
        )
    )


def _update_codebook(assigned: DataFrame) -> DataFrame:
    """(s, cid, c): per-(subspace, codeword, dim) mean, rounded."""
    long = assigned.select("s", "cid", F.posexplode("subv").alias("i", "x"))
    means = long.groupBy("s", "cid", "i").agg(
        F.round(F.avg("x"), ROUND_P).alias("m")
    )
    return means.groupBy("s", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))),
            lambda st: st.getField("m"),
        ).alias("c")
    )


def _oracle_pq() -> str:
    assign = """
    SELECT vec_id, s, cid FROM (
        SELECT e.vec_id, e.s, c.cid,
               round(sum((e.x - c.x) * (e.x - c.x)), {p}) AS d
        FROM e JOIN {cent} c ON c.s = e.s AND c.il = e.il
        GROUP BY e.vec_id, e.s, c.cid
    ) QUALIFY row_number() OVER (
        PARTITION BY vec_id, s ORDER BY d, cid) = 1
    """
    update = """
    SELECT a.s, a.cid, e.il, round(avg(e.x), {p}) AS x
    FROM e JOIN {assign} a ON a.vec_id = e.vec_id AND a.s = e.s
    GROUP BY 1, 2, 3
    """
    its = ""
    prev_c = "c0"
    for i in range(1, PQ_ITERS + 1):
        its += f""",
    a{i} AS ({assign.format(p=ROUND_P, cent=prev_c)}),
    c{i} AS ({update.format(p=ROUND_P, assign=f"a{i}")})"""
        prev_c = f"c{i}"
    return f"""
    WITH e AS (
        SELECT vec_id,
               CAST((generate_subscripts(embedding, 1) - 1) // {PQ_SUBDIM} AS INT) AS s,
               CAST((generate_subscripts(embedding, 1) - 1) % {PQ_SUBDIM} AS INT) AS il,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {PQ_KS})
    ),
    c0 AS (
        SELECT e.s, sd.cid, e.il, e.x
        FROM e JOIN seeds sd ON e.vec_id = sd.vec_id
    ){its},
    qid AS (SELECT max(vec_id) AS mx FROM embeddings),
    codes AS ({assign.format(p=ROUND_P, cent=prev_c)}),
    dt AS (
        SELECT c.s, c.cid,
               CAST(round(sum((eq.x - c.x) * (eq.x - c.x)), {ROUND_P})
                    AS DECIMAL(18,6)) AS dtd
        FROM {prev_c} c
        JOIN e eq ON eq.s = c.s AND eq.il = c.il
        WHERE eq.vec_id = (SELECT mx FROM qid)
        GROUP BY 1, 2
    )
    SELECT codes.vec_id,
           CAST(sum(dt.dtd) AS DOUBLE) AS adc_dist
    FROM codes
    JOIN dt ON dt.s = codes.s AND dt.cid = codes.cid
    WHERE codes.vec_id != (SELECT mx FROM qid)
    GROUP BY 1
    ORDER BY adc_dist ASC, vec_id ASC
    LIMIT {PQ_TOP}
    """


def _pq_index_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes): the trained PQ index, memoized per source
    fingerprint (frame_cache) — training (PQ_ITERS Lloyd rounds over
    the subvector frame) is the expensive offline half of PQ and is
    identical for every invocation over the same embeddings snapshot,
    exactly the offline-train / online-search split FAISS assumes. The
    search path (distance table + ADC sum) stays per-query."""
    from .frame_cache import cached_frame

    def build_cb() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        sub = _subvectors(emb)
        return fixpoint(
            _codebook_init(sub),
            lambda cb: _update_codebook(_assign_codes(sub, cb)),
            PQ_ITERS,
        )[0]

    cb = cached_frame(spark, sf_dir, "pq_codebook", ("embeddings",), build_cb)

    def build_codes() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        return _assign_codes(_subvectors(emb), cb).select("vec_id", "s", "cid")

    codes = cached_frame(spark, sf_dir, "pq_codes", ("embeddings",), build_codes)
    return cb, codes


@query("sim_topk_pq_adc", oracle=_oracle_pq())
def sim_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k: train M codebooks (subspace-keyed Lloyd), encode
    the corpus to M codes per vector, then answer the query (the
    max-vec_id embedding, held out of the results) by asymmetric
    distance computation — an M x Ks-row broadcast distance table
    joined onto the CODES, summed exactly in decimal (module
    docstring). Returns the PQ_TOP nearest (vec_id, adc_dist).
    Training + encoding come from the fingerprint-memoized index
    (``_pq_index_cached``); only the distance table and the ADC scan
    run per invocation."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    sub = _subvectors(emb)
    cb, codes = _pq_index_cached(spark, sf_dir)
    qid = emb.agg(F.max("vec_id").alias("mx"))
    qsub = sub.join(F.broadcast(qid), sub.vec_id == F.col("mx")).select(
        "s", F.col("subv").alias("qsub")
    )
    dt = (
        cb.join(F.broadcast(qsub), "s")
        .select(
            "s",
            "cid",
            F.round(
                F.aggregate(
                    F.zip_with("qsub", "c", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                ROUND_P,
            )
            .cast(_DT_DEC)
            .alias("dtd"),
        )
    )
    return (
        codes.join(F.broadcast(qid), codes.vec_id == F.col("mx"), "left_anti")
        .join(F.broadcast(dt), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("dtd").cast("double").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(PQ_TOP)
    )


# ------------------------------------------- scalar (int8) quantization
# The OTHER standard embedding-compression scheme next to PQ: keep the
# dimensionality, shrink each coordinate to one byte. 4x smaller than
# float32 at D=64 (PQ above is ~64x but lossier); the usual first step
# when an ANN index must fit executor memory. Per-dimension affine
# codec: code = round((x - min_d) / (max_d - min_d) * 255), decode
# x^ = min_d + code/255 * (max_d - min_d).
#
# Spark-first: per-dim min/max is ONE tiny aggregate (D rows — the
# "model" relation), broadcast back over a posexplode of the corpus;
# encode/decode/error are narrow codegen expressions; the per-vector
# error metrics re-group on vec_id — the same exchange the explode
# created, so AQE plans a single shuffle. At 100 TB the stats pass is
# a map-side-combinable agg to D rows and everything else is
# scan-shaped; nothing holds state bigger than the D-row codec.
#
# Determinism: min/max are order-independent; code uses
# floor(v + 0.5) on BOTH engines (no round-half-mode ambiguity);
# per-row err^2 is rounded then summed as DECIMAL (exact, any order);
# flat dimensions (max == min) encode to 0 and decode to min_d
# exactly, guarded by the same CASE on both engines.

SQ_LEVELS = 255


@query(
    "sim_quantize_int8",
    oracle=f"""
    WITH dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    stats AS (
        SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos
    ),
    coded AS (
        SELECT d.vec_id, d.x,
               CASE WHEN s.mx > s.mn
                    THEN s.mn + floor((d.x - s.mn) / (s.mx - s.mn) * {SQ_LEVELS} + 0.5)
                         / {SQ_LEVELS} * (s.mx - s.mn)
                    ELSE s.mn END AS recon
        FROM dims d JOIN stats s ON d.pos = s.pos
    )
    SELECT vec_id,
           round(CAST(sum(CAST(round((x - recon) * (x - recon), 14) AS DECIMAL(30,14)))
                      AS DOUBLE) / count(*), 12) AS mse_q8,
           max(round(abs(x - recon), 12)) AS max_abs_err_q8
    FROM coded
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar-quantization reconstruction error over
    the corpus codec (block comment above): mse and max-abs error of
    the decode, the numbers that decide whether the compressed index
    is usable for a given recall target."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    stats = dims.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    lv = F.lit(float(SQ_LEVELS))
    recon = F.when(
        F.col("mx") > F.col("mn"),
        F.col("mn")
        + F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * lv + 0.5)
        / lv
        * (F.col("mx") - F.col("mn")),
    ).otherwise(F.col("mn"))
    err = F.col("x") - F.col("recon")
    return (
        dims.join(F.broadcast(stats), "pos")
        .withColumn("recon", recon)
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(F.round(err * err, 14).cast("decimal(30,14)")).cast("double")
                / F.count(F.lit(1)),
                12,
            ).alias("mse_q8"),
            F.max(F.round(F.abs(err), 12)).alias("max_abs_err_q8"),
        )
        .orderBy("vec_id")
    )
