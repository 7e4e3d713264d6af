"""Training-data preparation operators beyond filtering/dedup: eval
contamination checking, sequence packing, and train/holdout splitting
(the BASELINE.json north-star "operations a large-scale training-data
pipeline would need", same family as operators/text_filters.py).

Scale design:

- **contamination**: the eval set is tiny by definition (benchmarks
  are thousands of docs, the corpus is billions), so its distinct
  shingle set broadcasts; the corpus side is ONE pass — shingle
  explode, broadcast left join, per-doc aggregate. No shuffle touches
  the eval side; the corpus shuffle key is doc_id (uniform).
- **packing**: GPT-style concat-and-chunk — documents are laid out in
  a deterministic stream order and chunked into fixed token budgets.
  A single global stream would be one unpartitioned window (the r1
  standings-rank mistake), so the stream is SHARDED by content hash:
  each shard packs independently with a window partitioned on the
  shard key. 100-TB shape: thousands of shards, each a bounded
  cumsum; bin boundaries never require cross-shard coordination.
- **splitting**: split membership is a pure function of the content
  hash (no RNG, no state), so it is reproducible across engines and
  re-runs, stable under repartitioning, and consistent per key across
  tables — the only split discipline that survives a distributed
  pipeline (same rationale as ``sample_hash_systematic``).

Cross-engine determinism: md5 hex (Spark == DuckDB), ratios round(6)-ed
before thresholding on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    hash_bucket,
    oracle_hash_bucket,
    oracle_shingles_cte,
    shingle_rows,
    tokens,
)
from ..registry import query
from ..sources import load_table
from .text_filters import GATE_ORACLE_CTES, QUALITY_KEEP_THRESHOLD

EVAL_MAX_DOC_ID = 50  # doc_id < 50 stands in for the eval benchmark set
CONTAM_THRESHOLD = 0.5
PACK_BUDGET = 512  # tokens per packed training sequence
N_SHARDS = 16  # packing shards (one hex char of md5)


@query(
    "contamination_eval_overlap",
    oracle=f"""
    WITH sh AS ({oracle_shingles_cte()}),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id < {EVAL_MAX_DOC_ID}),
    scored AS (
        SELECT sh.doc_id,
               count(*) AS n_shingles,
               sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
        FROM sh LEFT JOIN eval_sh e ON sh.s = e.s
        WHERE sh.doc_id >= {EVAL_MAX_DOC_ID}
        GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           round(n_overlap * 1.0 / n_shingles, 6) AS overlap_ratio,
           round(n_overlap * 1.0 / n_shingles, 6) >= {CONTAM_THRESHOLD}
               AS contaminated
    FROM scored
    """,
)
def contamination_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training doc, the
    fraction of its word-3-gram shingles that appear anywhere in the
    eval set (doc_id < EVAL_MAX_DOC_ID stands in for the benchmark).
    Docs at/over CONTAM_THRESHOLD overlap are flagged for removal —
    the standard n-gram decontamination gate run before pretraining.
    Eval shingles broadcast (eval sets are tiny vs the corpus); the
    corpus pays one shingle pass + one doc_id aggregate."""
    sh = shingle_rows(load_table(spark, sf_dir, "documents"))
    eval_sh = (
        sh.filter(F.col("doc_id") < EVAL_MAX_DOC_ID).select("s").distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= EVAL_MAX_DOC_ID)
    joined = corpus.join(
        F.broadcast(eval_sh.withColumn("_hit", F.lit(1))), "s", "left"
    )
    scored = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_overlap"),
    )
    ratio = F.round(F.col("n_overlap") / F.col("n_shingles"), 6)
    return scored.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        ratio.alias("overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
    )


@query(
    "pack_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS n_tokens,
               strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS shard
        FROM documents
    ),
    seq AS (
        SELECT doc_id, shard, n_tokens,
               COALESCE(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_offset
        FROM toks
    )
    SELECT doc_id,
           CAST(shard AS INT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(floor(start_offset / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM seq
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are streamed in
    deterministic (shard, doc_id) order and chunked into
    PACK_BUDGET-token training sequences — each doc gets its shard,
    token count, byte-stream start offset, and the pack (sequence) id
    its first token lands in. Sharding by one md5 hex char keeps every
    cumsum window partitioned (N_SHARDS-way parallel, no global
    window); at 100 TB you raise the shard count and each shard still
    packs independently."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10) AS INT)"
        ).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = toks.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    )
    return seq.select(
        "doc_id",
        "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "start_offset",
        F.floor(F.col("start_offset") / PACK_BUDGET).alias("pack_id"),
    )


@query(
    "split_train_holdout",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS c
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN c < 'c' THEN 'train'
                WHEN c < 'e' THEN 'validation'
                ELSE 'test' END AS split
    FROM h
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment by content hash:
    first md5 hex char of the doc key buckets 12/2/2 of 16 (75% /
    12.5% / 12.5%). A pure function of the key — reproducible across
    engines and runs, repartition-proof, and consistent for the same
    key in any table (so features and labels never straddle the
    split). Narrow map, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return docs.select(
        "doc_id",
        "lang",
        F.when(c < "c", "train")
        .when(c < "e", "validation")
        .otherwise("test")
        .alias("split"),
    )


# ------------------------------------------------- epoch shuffle

SHUFFLE_SEED = "epoch-0"  # new epoch = new seed string = new permutation
SHUFFLE_SHARDS = 8


@query(
    "shuffle_epoch_shards",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id,
               md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS rank_hash
        FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(rank_hash, 1, 4)) AS INTEGER)
                % {SHUFFLE_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(('0x' || substr(rank_hash, 1, 4)) AS INTEGER)
                   % {SHUFFLE_SHARDS}
               ORDER BY rank_hash, doc_id
           ) AS BIGINT) AS shard_pos
    FROM ranked
    """,
)
def shuffle_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training-data loading: every
    document gets a (shard, shard_pos) slot that is a pure function of
    (seed, doc_id) — no RNG state, so the permutation is reproducible
    across engines, re-runs, and repartitioning, and a new epoch is
    just a new seed string. This is the global-shuffle a dataloader
    needs without ever materializing a global ordering.

    100-TB shape: the rank hash is a narrow projection; shard
    assignment is a uniform hash bucket (no skew by construction);
    shard_pos is a window partitioned ON THE SHARD — each shard is one
    distributed sort of n/SHUFFLE_SHARDS rows, the documented
    cardinality contract (size SHUFFLE_SHARDS so a shard fits an
    executor's sort spill budget; real deployments use thousands).
    There is NO unpartitioned window and no driver-side pass."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string"))).alias(
            "rank_hash"
        ),
    )
    bucket = F.conv(F.substring("rank_hash", 1, 4), 16, 10).cast("long") % SHUFFLE_SHARDS
    shard = bucket.alias("shard")
    w = Window.partitionBy(bucket).orderBy("rank_hash", "doc_id")
    return ranked.select(
        "doc_id",
        shard.cast("int").alias("shard"),
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )


# ------------------------------------------------- mixture allocation

# Target pretraining mixture by language, as a fraction of the total
# token budget. The allocation rule is the standard capped-proportional
# one: a language can contribute at most what it has (rate caps at 1;
# the undersupplied remainder is reported, not silently reassigned —
# reassignment policy is a planner decision, not an engine one).
MIX_TARGET_WEIGHTS = {"en": 0.40, "zh": 0.20, "de": 0.15, "es": 0.15, "fr": 0.10}
MIX_BUDGET_FRACTION = 0.5  # total budget = 50% of corpus tokens

_MIX_WEIGHTS_SQL = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_TARGET_WEIGHTS.items())
)


@query(
    "mix_token_allocation",
    oracle=f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(sum(len(string_split(trim(regexp_replace(lower(text),
                    '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(avail_tokens) AS BIGINT) AS corpus_tokens FROM per_lang
    ),
    alloc AS (
        SELECT p.lang, p.avail_tokens,
               CAST(floor(t.corpus_tokens * {MIX_BUDGET_FRACTION}
                    * CASE p.lang {_MIX_WEIGHTS_SQL} ELSE 0 END) AS BIGINT)
                   AS target_tokens
        FROM per_lang p CROSS JOIN tot t
    )
    SELECT lang, avail_tokens, target_tokens,
           round(least(1.0, target_tokens * 1.0 / avail_tokens), 6)
               AS sample_rate,
           CAST(least(target_tokens, avail_tokens) AS BIGINT)
               AS expected_tokens,
           CAST(greatest(target_tokens - avail_tokens, 0) AS BIGINT)
               AS shortfall_tokens
    FROM alloc
    ORDER BY lang
    """,
)
def mix_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-proportional token-budget allocation across languages —
    the planning step before ``sample_weighted_mix`` executes a draw:
    how many tokens each language SHOULD contribute (target weight x
    budget), what it CAN contribute, the per-language sampling rate,
    and the shortfall where the target exceeds supply. One grouped
    token count (map-side partial sum of a doc-local expression), a
    one-row total broadcast back — no second corpus scan, no driver
    math, so the same plan prices a 100-TB corpus."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text"))))
        .cast("long")
        .alias("avail_tokens")
    )
    per_lang = per_lang.localCheckpoint(eager=False)
    tot = F.broadcast(
        per_lang.agg(F.sum("avail_tokens").cast("long").alias("corpus_tokens"))
    )
    weight = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in sorted(MIX_TARGET_WEIGHTS.items())
        ],
        F.lit(0.0),
    )
    alloc = per_lang.crossJoin(tot).select(
        "lang",
        "avail_tokens",
        F.floor(F.col("corpus_tokens") * MIX_BUDGET_FRACTION * weight)
        .cast("long")
        .alias("target_tokens"),
    )
    return alloc.select(
        "lang",
        "avail_tokens",
        "target_tokens",
        F.round(
            F.least(F.lit(1.0), F.col("target_tokens") / F.col("avail_tokens")), 6
        ).alias("sample_rate"),
        F.least("target_tokens", "avail_tokens").cast("long").alias("expected_tokens"),
        F.greatest(F.col("target_tokens") - F.col("avail_tokens"), F.lit(0))
        .cast("long")
        .alias("shortfall_tokens"),
    ).orderBy("lang")


# ------------------------------------------- DSIR importance weighting

DSIR_DIM = 256  # hashed feature buckets (DSIR uses 10k at real scale)
DSIR_TARGET_LANG = "en"  # docs in this language stand in for the target


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    bt AS (
        SELECT doc_id, lang,
               {oracle_hash_bucket('w', DSIR_DIM)} AS b
        FROM toks
    ),
    docb AS (SELECT doc_id, b, count(*) AS c FROM bt GROUP BY 1, 2),
    gcnt AS (
        SELECT b,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS tc,
               count(*) AS bc
        FROM bt GROUP BY 1
    ),
    tot AS (SELECT sum(tc) AS tt, sum(bc) AS tb FROM gcnt),
    lr AS (
        SELECT b, ln(((tc + 1.0) * (tb + {DSIR_DIM}))
                     / ((bc + 1.0) * (tt + {DSIR_DIM}))) AS lw
        FROM gcnt, tot
    ),
    terms AS (
        SELECT doc_id, CAST(round(c * lr.lw, 9) AS DECIMAL(28,9)) AS term
        FROM docb JOIN lr USING (b)
    )
    SELECT doc_id, round(CAST(sum(term) AS DOUBLE), 6) AS dsir_logweight
    FROM terms GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every corpus document by its hashed-n-gram log importance weight
    log p_target(doc)/p_background(doc) — the weight used to resample
    a raw corpus toward a target domain before pretraining. Feature
    space is the hashing trick (md5-prefix mod DSIR_DIM, same
    determinism contract as featurize_hashed_ngrams); target bucket
    distribution is estimated from the DSIR_TARGET_LANG slice,
    background from the whole corpus, both with add-one smoothing.

    Plan: ONE token-bucket pass feeds both the per-doc counts and the
    global target/background counts (localCheckpoint); the global
    frame is DSIR_DIM rows -> the log-ratio table broadcasts onto the
    per-doc counts; the per-doc sum shuffles on doc_id once. No
    vocabulary fit, no driver state — the same properties that make
    hashed features the 100-TB default.

    Determinism: the log-ratio operates on an exact-integer rational
    (counts and totals < 2^53 convert to double exactly, identical
    operand shape both engines); per-term products are round(9)-ed
    into exact decimal before the per-doc sum so accumulation order
    can't move the 6-decimal output."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    bt = toks.select("doc_id", "lang", hash_bucket("w", DSIR_DIM).alias("b"))
    bt = bt.localCheckpoint(eager=False)  # one pass feeds docb + glob
    docb = bt.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    glob = bt.groupBy("b").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("tc"),
        F.count(F.lit(1)).alias("bc"),
    )
    tot = F.broadcast(
        glob.agg(F.sum("tc").alias("tt"), F.sum("bc").alias("tb"))
    )
    lr = F.broadcast(
        glob.crossJoin(tot).select(
            "b",
            F.log(
                ((F.col("tc") + F.lit(1.0)) * (F.col("tb") + F.lit(DSIR_DIM)))
                / ((F.col("bc") + F.lit(1.0)) * (F.col("tt") + F.lit(DSIR_DIM)))
            ).alias("lw"),
        )
    )
    terms = docb.join(lr, "b").select(
        "doc_id",
        F.round(F.col("c") * F.col("lw"), 9).cast("decimal(28,9)").alias("term"),
    )
    return terms.groupBy("doc_id").agg(
        F.round(F.sum("term").cast("double"), 6).alias("dsir_logweight")
    )


# ------------------------------------- composed crawl -> training shards

# VERDICT r4 item 7: the end-to-end pipeline as ONE Catalyst plan —
# gate (exact dedup + quality + language) -> epoch-shard assignment ->
# concat-and-chunk pack offsets — no driver round trip between stages.


@query(
    "pipeline_pretrain_to_shards",
    oracle=GATE_ORACLE_CTES
    + f""",
    kept AS (
        SELECT doc_id, n_tokens FROM d
        WHERE doc_id = keeper
          AND quality_score >= {QUALITY_KEEP_THRESHOLD}
          AND lang = 'en'
    ),
    r AS (
        SELECT doc_id, n_tokens,
               md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS rank_hash
        FROM kept
    ),
    s AS (
        SELECT doc_id, n_tokens, rank_hash,
               CAST(('0x' || substr(rank_hash, 1, 4)) AS INTEGER)
                   % {SHUFFLE_SHARDS} AS shard
        FROM r
    ),
    o AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard ORDER BY rank_hash, doc_id) AS shard_pos,
               COALESCE(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY rank_hash, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_offset
        FROM s
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(shard AS INT) AS shard,
           CAST(shard_pos AS BIGINT) AS shard_pos,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(floor(start_offset / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM o
    """,
)
def pipeline_pretrain_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl -> training shards in ONE plan: the pretrain gate
    (text_filters.gate_scored: exact-dedup keeper + quality score +
    language allowlist), the deterministic epoch shuffle
    (seed-hash shard + in-shard order), and concat-and-chunk packing
    (per-shard token cumsum -> PACK_BUDGET sequence ids), composed so
    Catalyst fuses gate scoring into the scan and the only shuffles
    are the fingerprint window and the shard window — zero driver
    round trips between stages.

    100-TB shape: stage boundaries that are usually separate nightly
    jobs (filter table -> shuffle manifest -> packer) here share one
    lineage; the gate's fp window and the shard window both key on
    uniform hashes (no skew), and every shard packs independently
    (raise SHUFFLE_SHARDS with corpus size — no cross-shard
    coordination, same contract as shuffle_epoch_shards /
    pack_token_budget)."""
    from .text_filters import gate_scored

    docs = load_table(spark, sf_dir, "documents")
    d = gate_scored(docs)
    kept = d.filter(
        (F.col("doc_id") == F.col("keeper"))
        & (F.col("quality_score") >= QUALITY_KEEP_THRESHOLD)
        & (F.col("lang") == "en")
    ).select("doc_id", "n_tokens")
    ranked = kept.withColumn(
        "rank_hash",
        F.md5(F.concat(F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string"))),
    )
    s = ranked.withColumn(
        "shard",
        (F.conv(F.substring("rank_hash", 1, 4), 16, 10).cast("long") % SHUFFLE_SHARDS)
        .cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("rank_hash", "doc_id")
    return s.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "shard",
        F.row_number().over(w).cast("long").alias("shard_pos"),
        F.coalesce(
            F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("start_offset"),
    ).withColumn("pack_id", F.floor(F.col("start_offset") / PACK_BUDGET))


# ------------------------------------------------- curriculum ordering

N_PHASES = 5  # quality-score bands, low -> high


@query(
    "curriculum_quality_order",
    oracle=GATE_ORACLE_CTES
    + f""",
    kept AS (
        SELECT doc_id, quality_score FROM d WHERE doc_id = keeper
    ),
    p AS (
        SELECT doc_id, quality_score,
               CAST(least(floor(quality_score * {N_PHASES}),
                          {N_PHASES - 1}) AS INT) AS phase
        FROM kept
    ),
    o AS (
        SELECT doc_id, quality_score, phase,
               row_number() OVER (
                   PARTITION BY phase
                   ORDER BY md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS phase_pos
        FROM p
    ),
    sizes AS (
        SELECT phase, count(*) AS n FROM p GROUP BY 1
    ),
    offs AS (
        SELECT phase,
               COALESCE(sum(n) OVER (ORDER BY phase
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS phase_offset
        FROM sizes
    )
    SELECT o.doc_id, o.quality_score, o.phase,
           CAST(o.phase_pos AS BIGINT) AS phase_pos,
           CAST(offs.phase_offset + o.phase_pos AS BIGINT) AS global_pos
    FROM o JOIN offs ON o.phase = offs.phase
    """,
)
def curriculum_quality_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: deduped docs are banded into
    N_PHASES quality phases (low -> high), shuffled WITHIN each phase
    by the deterministic seed hash, and given a global curriculum
    position — easy/low-quality-first schedules (or the reverse) read
    the output in global_pos order.

    100-TB shape: the phase is a narrow banding expression; in-phase
    position is a window partitioned on the phase (N_PHASES
    distributed sorts — at scale you band finer or sub-shard each
    phase exactly like shuffle_epoch_shards); the phase-offset table
    is N_PHASES rows, computed with a window over a 5-row aggregate
    and broadcast back. The ONLY unpartitioned window in the plan runs
    over those 5 rows — a documented cardinality contract, not a
    global sort of the corpus."""
    from .text_filters import gate_scored

    docs = load_table(spark, sf_dir, "documents")
    kept = (
        gate_scored(docs)
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "quality_score")
    )
    p = kept.withColumn(
        "phase",
        F.least(
            F.floor(F.col("quality_score") * N_PHASES), F.lit(N_PHASES - 1)
        ).cast("int"),
    )
    w = Window.partitionBy("phase").orderBy(
        F.md5(F.concat(F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    o = p.withColumn("phase_pos", F.row_number().over(w).cast("long"))
    sizes = p.groupBy("phase").agg(F.count(F.lit(1)).alias("n"))
    offs = sizes.select(
        "phase",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("phase").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("phase_offset"),
    )
    return o.join(F.broadcast(offs), "phase").select(
        "doc_id",
        "quality_score",
        "phase",
        "phase_pos",
        (F.col("phase_offset") + F.col("phase_pos")).cast("long").alias("global_pos"),
    )


NEG_K = 4  # negative candidates drawn per anchor
NEG_SEED = "negs-1"


@query(
    "training_negative_sampling",
    oracle=f"""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    cand AS (
        SELECT e.vec_id AS anchor_id, e.label AS anchor_label, t.j AS slot,
               (CAST(('0x' || substr(md5('{NEG_SEED}:'
                    || CAST(e.vec_id AS VARCHAR) || ':'
                    || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % nn.n) AS raw,
               nn.n AS n
        FROM embeddings e
        CROSS JOIN n nn, unnest(range(0, {NEG_K})) AS t(j)
    ),
    fix AS (
        SELECT anchor_id, anchor_label, slot,
               CASE WHEN raw = anchor_id THEN (raw + 1) % n ELSE raw END
                   AS neg_id
        FROM cand
    )
    SELECT f.anchor_id, f.anchor_label, f.slot, f.neg_id,
           e2.label AS neg_label
    FROM fix f JOIN embeddings e2 ON e2.vec_id = f.neg_id
    WHERE e2.label <> f.anchor_label
    """,
)
def training_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training (the
    word2vec / InfoNCE data-prep step — public): each anchor vector
    draws {NEG_K} candidate negatives via seeded content hashes
    (reproducible across engines, runs, and partitionings — the
    sample_hash_systematic discipline, not RNG), self-collisions are
    deterministically shifted to the next id, and candidates sharing
    the anchor's LABEL are dropped (false-negative filtering — pairing
    an anchor against its own class teaches the model to collapse the
    class). Output is (anchor, slot, negative) grain, ready to join
    embeddings for the loss computation.

    The dense vec_id key (0..N-1, the IVF/PQ index convention used by
    this embeddings table) makes hash-mod-N a direct key draw; for a
    sparse id space, draw against a row_number index frame first —
    one extra window, same plan.

    100-TB shape: an {NEG_K}x row explode of the anchor table, one
    scalar-count broadcast, and one equi-join back on the embedding
    key for labels. No windows over the fact, no pair blowup — the
    candidate count is anchors x {NEG_K} by construction."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    emb = emb.localCheckpoint(eager=False)  # anchors + label lookup share it
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    cand = (
        emb.crossJoin(F.broadcast(n))  # one-row scalar broadcast (bounded BNLJ)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("slot"),
            "n",
        )
        .withColumn(
            "raw",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(NEG_SEED),
                            F.col("anchor_id").cast("string"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n"),
        )
    )
    fix = cand.select(
        "anchor_id",
        "anchor_label",
        "slot",
        F.when(
            F.col("raw") == F.col("anchor_id"), (F.col("raw") + 1) % F.col("n")
        )
        .otherwise(F.col("raw"))
        .alias("neg_id"),
    )
    labels = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return fix.join(labels, "neg_id").filter(
        F.col("neg_label") != F.col("anchor_label")
    ).select("anchor_id", "anchor_label", "slot", "neg_id", "neg_label")


# ------------------------------------------- release waterfall
# pipeline_pretrain_filter emits FLAT per-rule booleans; a release
# review wants the WATERFALL: each document's FIRST failing stage, in
# the order the pipeline applies them, so the stage-loss counts read
# directly off the status column. This composition also adds the
# stage the flat gate cannot express — PAIR-BASED near-dup removal
# (shingle containment, dedup.py): a doc is dropped when >= 90% of
# its shingles appear in another doc (quotes/boilerplate-inclusion),
# with mutual containments keeping the lower doc_id (the keep-first
# convention).
#
# ONE Catalyst plan: the gate's fp window + the containment family's
# DF-capped inverted-index join; the contained-doc set is a left join
# flag. Stage order (first failure wins): exact_dup -> lang ->
# quality -> near_dup -> released. Oracle composes the SHARED gate
# CTEs (text_filters.GATE_ORACLE_CTES) with the containment pair SQL
# built from dedup.py's constants, so neither side can drift from the
# standalone operators.

def _release_oracle() -> str:
    from .dedup import CONTAINMENT_T, containment_oracle_ctes

    # shingles built from the gate's ``t`` relation (same tokens the
    # quality score saw); the rare/shc/sizes/inter/cont chain is the
    # SHARED fragment dedup_containment_capped's oracle composes
    sh_body = """
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                 ELSE [] END)) AS s
        FROM t
    """
    return (
        GATE_ORACLE_CTES
        + ",\n    "
        + containment_oracle_ctes(sh_body)
        + f""",
    dropped AS (
        SELECT DISTINCT doc_a AS doc_id FROM cont
        WHERE c_ab >= {CONTAINMENT_T} AND (c_ba < {CONTAINMENT_T} OR doc_b < doc_a)
        UNION
        SELECT DISTINCT doc_b FROM cont
        WHERE c_ba >= {CONTAINMENT_T} AND (c_ab < {CONTAINMENT_T} OR doc_a < doc_b)
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id <> d.keeper THEN 'exact_dup'
                WHEN d.lang <> 'en' THEN 'lang'
                WHEN d.quality_score < {QUALITY_KEEP_THRESHOLD} THEN 'quality'
                WHEN dr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'released' END AS status,
           d.quality_score
    FROM d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    ORDER BY d.doc_id
    """
    )


@query("pipeline_release_waterfall", oracle=_release_oracle())
def pipeline_release_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document release status: the first failing stage of
    exact_dup -> lang -> quality -> near_dup, else 'released' (block
    comment above)."""
    from .dedup import CONTAINMENT_T, capped_shingle_rows, containment_pairs
    from .text_filters import gate_scored

    docs = load_table(spark, sf_dir, "documents")
    d = gate_scored(docs)
    # capped_shingle_rows self-cuts its output (it is multi-consumer
    # in every caller) — a second checkpoint here would just duplicate
    # the inverted index in block storage
    sh = capped_shingle_rows(docs)
    # shared with dedup_containment_capped — the Spark twin of the
    # shared oracle fragment; consumed twice below, so cut
    cont = containment_pairs(sh).localCheckpoint(eager=True)
    t = F.lit(CONTAINMENT_T)
    dropped = (
        cont.filter((F.col("c_ab") >= t) & ((F.col("c_ba") < t) | (F.col("doc_b") < F.col("doc_a"))))
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            cont.filter(
                (F.col("c_ba") >= t) & ((F.col("c_ab") < t) | (F.col("doc_a") < F.col("doc_b")))
            ).select(F.col("doc_b").alias("doc_id"))
        )
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    status = (
        F.when(F.col("doc_id") != F.col("keeper"), F.lit("exact_dup"))
        .when(F.col("lang") != "en", F.lit("lang"))
        .when(F.col("quality_score") < QUALITY_KEEP_THRESHOLD, F.lit("quality"))
        .when(F.col("near_dup").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("released"))
    )
    return (
        d.join(dropped, "doc_id", "left")
        .select("doc_id", status.alias("status"), "quality_score")
        .orderBy("doc_id")
    )
