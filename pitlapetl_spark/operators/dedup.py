"""Deduplication operators — the LLM-data-pipeline surface
(BASELINE.json north star; SURVEY.md §7.2 M5): exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup, all over the
``documents`` / ``embeddings`` tables.

Scale design (the whole point at 100 TB):

- **exact**: one hash-aggregate on a fingerprint column — map-side
  partial agg, a single shuffle on the 32-hex-char key.
- **n-gram Jaccard**: inverted-index self-join on shingle (never a
  cross join): pairs are generated only where documents actually share
  a shingle. The scale lever is a shingle-DF cap (drop shingles in
  more than N docs) — omitted here because the oracle must replay the
  exact semantics, noted where it would go.
- **MinHash+LSH**: per-doc signature = K min-aggregations (one
  shuffle), banding = narrow map, candidate generation = equi-join on
  (band_idx, band_value) — the classic shingle->minhash->band->
  bucket-join pipeline; candidates are then *verified* with exact
  Jaccard so the emitted pairs are exact-threshold truth, LSH only
  prunes the search space.
- **SimHash**: one token-frequency aggregate + BITS sign-sums in a
  single groupBy; clusters are equal-simhash groups.
- **embedding cosine**: the brute-force quadratic baseline lives in
  operators/similarity.py's LSH path; here near-dup is an equi-width
  problem demonstrated on a planted-duplicate union.

Cross-engine determinism: every hash is md5-hex (Spark md5 == DuckDB
md5), min-ed lexicographically; every ratio is round(6)-ed before
thresholding on BOTH sides. Swap md5 for xxhash64 in production only
where the result does not depend on the hash (winnowing's does: see
WINNOW_FAST_MIN_LEN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    SHINGLE_K,
    minhash_base_cols,
    minhash_cols,
    norm_text,
    oracle_minhash_base_sql,
    oracle_minhash_sig_cols,
    oracle_shingles_cte,
    shingle_rows,
    shingles,
    tokens,
)
from ..registry import query
from ..sources import load_table

# ---------------------------------------------------------------- exact

@query(
    "dedup_exact",
    oracle="""
    WITH crawl AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
    )
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM crawl
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over a simulated re-crawl (the
    corpus unioned with an id-offset copy of itself): group on the
    normalized-text fingerprint, keep the smallest doc_id. One
    hash-aggregate; at 100 TB the shuffle key is the 32-char hex hash,
    uniformly distributed — no skew by construction."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    crawl = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return (
        crawl.select(F.md5(norm_text(F.col("text"))).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------- n-gram jaccard

JACCARD_THRESHOLD = 0.8

_PAIR_JACCARD_SQL = f"""
    WITH sh AS ({oracle_shingles_cte(SHINGLE_K)}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
"""


def _pair_jaccard(
    sh: DataFrame,
    candidates: DataFrame | None = None,
    sizes: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle rows; optionally restricted to a
    (doc_a, doc_b) candidate set (the LSH verify stage). ``sizes``
    lets a caller that already aggregated per-doc shingle counts (the
    minhash signature groupBy shuffles on the same doc_id key) pass
    them in instead of paying a second full scan+shuffle of ``sh``.
    ``docs`` (the pre-explode documents frame ``sh`` was built from)
    lets the candidate restriction apply BEFORE the shingle explode:
    the semi-join then drops whole documents at the scan grain and
    only candidate docs ever pay the tokenize+explode (guide §2.3
    project early — the old post-explode semi-join shingled the
    ENTIRE corpus first and threw most of it away)."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        # restrict the shingle set to docs appearing in ANY candidate
        # pair BEFORE the self-join — the verify stage then touches
        # O(candidate docs), not the whole corpus (the point of LSH)
        cand_docs = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        if docs is not None:
            sh = shingle_rows(
                docs.join(F.broadcast(cand_docs), "doc_id", "left_semi")
            )
        else:
            sh = sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        # ... and materialize the restriction once: the self-join
        # below consumes it twice, and the two sides stop being
        # canonically-equal subtrees after alias/prune, so without
        # this each side re-runs the restricted scan + shingle
        # explode + semi-join (observed: 2 FileScans, 0
        # ReusedExchange). O(candidate docs x shingles) rows only.
        sh = sh.localCheckpoint(eager=True)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    if candidates is not None:
        inter = inter.join(F.broadcast(candidates), ["doc_a", "doc_b"], "left_semi")
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


@query("dedup_ngram_jaccard", oracle=_PAIR_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with exact word-3-gram Jaccard >= 0.8 via an
    inverted-index self-join on shingle (no cross join anywhere).
    This is the EXACT variant; the production path at corpus scale is
    ``dedup_ngram_jaccard_capped`` below, which drops stop-shingles
    before the join."""
    docs = load_table(spark, sf_dir, "documents")
    # DOC-GRAIN lineage cut (the winnowing device): the shingle
    # arrays are computed once, sizes are the doc-local array size
    # (no count aggregate, no extra exchange), and both self-join
    # sides explode from the cut instead of re-scanning + re-
    # tokenizing the corpus (4 documents scans -> 1; guide §1.2)
    arrs = (
        docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
        .select("doc_id", shingles("_toks").alias("ss"))
        .localCheckpoint(eager=False)
    )
    sh = arrs.select("doc_id", F.explode("ss").alias("s"))
    sizes = arrs.select("doc_id", F.size("ss").alias("n"))
    return _pair_jaccard(sh, sizes=sizes)


# ------------------------------------------- capped-shingle jaccard
# Stop-shingles are the scale killer of the inverted-index join: a
# shingle shared by d documents contributes d*(d-1)/2 candidate pairs,
# so one boilerplate phrase in 1% of a 10B-doc corpus alone explodes
# the pair space. The capped variant drops shingles with document
# frequency > DF_CAP *before* the join — and, crucially, computes doc
# sizes on the SAME capped shingle set, so the emitted value is the
# exact Jaccard of the capped sets (a deterministic, replayable
# semantics, not an ad-hoc approximation).

DF_CAP = 5

_PAIR_JACCARD_CAPPED_SQL = f"""
    WITH sh_all AS ({oracle_shingles_cte(SHINGLE_K)}),
    rare AS (
        SELECT s FROM sh_all GROUP BY s
        HAVING count(DISTINCT doc_id) <= {DF_CAP}
    ),
    sh AS (SELECT doc_id, s FROM sh_all WHERE s IN (SELECT s FROM rare)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
"""


def capped_shingle_rows(docs: DataFrame, df_cap: int = DF_CAP) -> DataFrame:
    """Shingle rows with stop-shingles (document frequency > df_cap)
    removed. One extra aggregation on the shingle key (map-side
    partial count-distinct is fine here: doc_id repeats per shingle
    only across partitions) and a self-semi-join on shingle — both
    shuffle on the same key the downstream inverted-index join uses,
    so AQE coalesces them into the same exchange layout."""
    # two lazy lineage cuts (guide §1.2): the raw shingle rows feed
    # the DF aggregate AND the semi-join probe (2 corpus scans -> 1),
    # and the capped output feeds the caller's sizes aggregate plus
    # both inverted-index self-join sides (observed: 8 documents
    # scans in dedup_ngram_jaccard_capped's plan before, 1 after —
    # each self-join side re-ran scan+tokenize+explode+cap). The
    # materialized frames are the inverted index itself — the same
    # rows the join shuffles — so the block-storage cost is bounded
    # by work the query already does.
    sh = shingle_rows(docs).localCheckpoint(eager=False)
    rare = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("s")
    )
    return sh.join(rare, "s", "left_semi").localCheckpoint(eager=False)


@query("dedup_ngram_jaccard_capped", oracle=_PAIR_JACCARD_CAPPED_SQL)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by Jaccard >= 0.8 over DF-capped shingle sets —
    the production-scale variant of ``dedup_ngram_jaccard``: dropping
    shingles that appear in more than DF_CAP documents bounds every
    shingle's pair contribution at DF_CAP^2 regardless of corpus size
    (tests/test_plan_hygiene.py asserts the cap shrinks the candidate
    pair space on real data)."""
    docs = load_table(spark, sf_dir, "documents")
    return _pair_jaccard(capped_shingle_rows(docs))


# --------------------------------------------------------- minhash + LSH

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def _oracle_minhash_lsh() -> str:
    sig_cols = oracle_minhash_sig_cols(N_HASHES)
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {k} AS band_idx, md5({expr}) AS band_val FROM sig".format(
            k=k,
            expr=" || '|' || ".join(
                f"h{k * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
            ),
        )
        for k in range(N_BANDS)
    )
    return f"""
    WITH sh0 AS ({oracle_shingles_cte(SHINGLE_K)}),
    sh AS (SELECT doc_id, s, {oracle_minhash_base_sql()} FROM sh0),
    sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
        FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        JOIN cand c ON c.doc_a = x.doc_id AND c.doc_b = y.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
    """


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N-1}, n) minhash signature frame for a documents
    frame (doc_id, text, ...): shingle explode + one grouped
    aggregation carrying the 16-hash signature and the shingle count.
    The shared signature builder for whole-corpus LSH, incremental
    batch dedup, and the streaming ingest sink — one narrow row per
    document, the thing a production signature STORE persists."""
    sh = shingle_rows(docs)
    return (
        sh.select("doc_id", *minhash_base_cols(F.col("s")))
        .groupBy("doc_id")
        .agg(*minhash_cols(N_HASHES), F.count(F.lit(1)).alias("n"))
    )


def _band_rows(sig: DataFrame) -> DataFrame:
    """LSH band rows (doc_id, band_idx, band_val) from a minhash
    signature frame: each band hashes its ROWS_PER_BAND signature
    slots into one bucket value."""
    band_structs = [
        F.struct(
            F.lit(k).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{k * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                )
            ).alias("band_val"),
        )
        for k in range(N_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_val")


@query("dedup_minhash_lsh", oracle=_oracle_minhash_lsh())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: shingle -> 16-hash min signature (one
    aggregate) -> 4 bands x 4 rows -> bucket equi-join for candidates
    -> exact-Jaccard verification of candidates only. At 100 TB the
    candidate join replaces the quadratic pair space with
    O(collisions); banding parameters trade recall vs candidates
    (s-curve threshold ~ (1/b)^(1/r) ~ 0.7 here)."""
    docs = load_table(spark, sf_dir, "documents")
    # signature via explode + 16 min-aggregations: the shingle array
    # is computed ONCE per doc, then min-ed map-side before one small
    # shuffle on doc_id. (A shuffle-free array_min(transform(...))
    # per hash measured 2.5x SLOWER: Catalyst's CollapseProject
    # inlines the shingle-array construction into every one of the 16
    # hash expressions, recomputing it 16x per row.)
    sh = shingle_rows(docs)
    # ONE aggregation produces both the 16-hash signature and the
    # per-doc shingle count the verify stage needs (same doc_id
    # shuffle key), and the result — one narrow row per document — is
    # materialized once: bands and sizes are pruned differently, so
    # without the checkpoint Catalyst stops recognizing the subtrees
    # as equal and re-runs the full shingle scan+shuffle per consumer
    # (measured: 4 full shingle computations in the r1 plan, 2 now).
    # O(docs) rows in executor block storage; at cluster scale swap
    # localCheckpoint for persist(MEMORY_AND_DISK) — same plan shape.
    # The 16 hash values derive from ONE md5 per shingle
    # (functions/text.py minhash family) — not 16.
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    sizes = sig.select("doc_id", "n")
    bands = _band_rows(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _pair_jaccard(sh, candidates=cand, sizes=sizes, docs=docs)


@query("dedup_minhash_lsh_preagg", oracle=_oracle_minhash_lsh())
def dedup_minhash_lsh_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_minhash_lsh`` with the banding SELF-JOIN replaced by a
    bucket PRE-AGGREGATION (VERDICT r8 item 3's optimization
    headroom, registered so both shapes stay oracle-checked): group
    the band rows to one row per (band_idx, band_val) bucket with the
    sorted distinct member list, drop singleton buckets (the vast
    majority — they can never produce a pair), and enumerate each
    surviving bucket's C(n,2) pairs with a JVM array expression.
    Candidates, and therefore the verified output, are IDENTICAL to
    the self-join variant (same oracle).

    Why it's the better 100-TB shape: ONE shuffle of the band rows
    (the groupBy) instead of a join that shuffles both full copies;
    map-side combine collapses duplicate (band, doc) rows before the
    wire; singleton buckets — O(corpus x bands) rows — die in the
    aggregate instead of flowing into a join probe. The trade is the
    collect_set per bucket: bucket membership must fit in one task,
    which the banding design already guarantees everywhere collisions
    are rare enough for LSH to be useful at all; a pathological hot
    bucket (degenerate band value) is exactly the skew the capped /
    salted variants exist for."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs)
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    sizes = sig.select("doc_id", "n")
    buckets = (
        _band_rows(sig)
        .groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return _pair_jaccard(sh, candidates=cand, sizes=sizes, docs=docs)


# ------------------------------------------------- incremental minhash
# A 100-TB training pipeline does not re-dedup the whole corpus per
# crawl: it keeps a SIGNATURE STORE (doc_id -> minhash signature +
# band buckets, a narrow table bucketed on band_val) and dedups each
# incoming batch against it. Incremental cost is O(batch + band
# collisions) — the corpus-side store is only probed on the band key,
# never re-shingled. The query below models the split determinis-
# tically (doc_id % INCR_MOD == INCR_REM is "today's batch") so the
# DuckDB oracle can replay it; in production the corpus side is
# `spark.read` of the signature table and the batch side is the only
# text that gets shingled.

INCR_MOD = 5
INCR_REM = 2


def _oracle_incremental_minhash() -> str:
    sig_cols = oracle_minhash_sig_cols(N_HASHES)
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {k} AS band_idx, md5({expr}) AS band_val FROM sig".format(
            k=k,
            expr=" || '|' || ".join(
                f"h{k * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
            ),
        )
        for k in range(N_BANDS)
    )
    return f"""
    WITH sh0 AS ({oracle_shingles_cte(SHINGLE_K)}),
    sh AS (SELECT doc_id, s, {oracle_minhash_base_sql()} FROM sh0),
    sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS dup_of
        FROM bands n JOIN bands c
          ON n.band_idx = c.band_idx AND n.band_val = c.band_val
        WHERE n.doc_id % {INCR_MOD} = {INCR_REM}
          AND c.doc_id % {INCR_MOD} <> {INCR_REM}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT x.doc_id AS doc_new, y.doc_id AS dup_of, count(*) AS i
        FROM sh x JOIN sh y ON x.s = y.s
        JOIN cand c ON c.doc_new = x.doc_id AND c.dup_of = y.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_new, dup_of,
           round(i * 1.0 / (sn.n + sc.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sn ON sn.doc_id = doc_new
    JOIN sizes sc ON sc.doc_id = dup_of
    WHERE round(i * 1.0 / (sn.n + sc.n - i), 6) >= {JACCARD_THRESHOLD}
    """


@query("dedup_incremental_minhash", oracle=_oracle_incremental_minhash())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: dedup an incoming BATCH against the
    existing CORPUS without re-pairing the corpus with itself. Batch
    bands (small) broadcast against the corpus band store; only
    batch-x-corpus collisions are verified with exact Jaccard. Unlike
    ``dedup_minhash_lsh`` (whole-corpus self-join, O(all collisions)
    per run) the recurring cost here is O(batch + its collisions):
    the corpus side is, in production, a pre-computed signature/band
    table probed on its bucket key — it is never re-shingled and
    never joined to itself. Returns (doc_new, dup_of, jaccard) for
    batch docs that near-duplicate an existing corpus doc."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % INCR_MOD) == INCR_REM
    # one signature pass over everything here (the test corpus has no
    # persisted store); the SPLIT below is what production replaces
    # with a table read — the plan downstream of `sig` is identical
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    bands = _band_rows(sig)
    batch_bands = bands.filter(is_batch)
    corpus_bands = bands.filter(~is_batch)
    cand = (
        corpus_bands.alias("c")
        .join(
            # the batch is the small side by construction — broadcast
            # it so the corpus band store is probed in place, one
            # scan, zero shuffle of the big side
            F.broadcast(batch_bands.alias("n")),
            (F.col("c.band_idx") == F.col("n.band_idx"))
            & (F.col("c.band_val") == F.col("n.band_val")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"), F.col("c.doc_id").alias("dup_of")
        )
        .distinct()
    )
    # exact-Jaccard verification restricted to candidate docs on both
    # sides (same candidate-restriction discipline as _pair_jaccard),
    # applied BEFORE the shingle explode: only candidate docs pay the
    # tokenize+explode — the old post-explode semi-joins shingled the
    # whole corpus twice more after the signature pass (guide §2.3)
    new_docs = cand.select(F.col("doc_new").alias("doc_id")).distinct()
    old_docs = cand.select(F.col("dup_of").alias("doc_id")).distinct()
    sh_new = shingle_rows(
        docs.join(F.broadcast(new_docs), "doc_id", "left_semi")
    )
    sh_old = shingle_rows(
        docs.join(F.broadcast(old_docs), "doc_id", "left_semi")
    )
    inter = (
        sh_new.alias("x")
        .join(sh_old.alias("y"), F.col("x.s") == F.col("y.s"))
        .groupBy(
            F.col("x.doc_id").alias("doc_new"), F.col("y.doc_id").alias("dup_of")
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .join(F.broadcast(cand), ["doc_new", "dup_of"], "left_semi")
    )
    sizes = sig.select("doc_id", "n")
    sn = sizes.select(F.col("doc_id").alias("doc_new"), F.col("n").alias("n_new"))
    sc = sizes.select(F.col("doc_id").alias("dup_of"), F.col("n").alias("n_old"))
    return (
        inter.join(sn, "doc_new")
        .join(sc, "dup_of")
        .select(
            "doc_new",
            "dup_of",
            F.round(
                F.col("i") / (F.col("n_new") + F.col("n_old") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------- simhash

SIMHASH_BITS = 16
_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def _oracle_simhash() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN substr(md5(w), {i + 1}, 1) IN "
        f"({', '.join(repr(h) for h in _HEX_HIGH)}) THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    value = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
    bits AS (SELECT doc_id, {bit_sums} FROM tf GROUP BY doc_id),
    sh AS (SELECT doc_id, CAST({value} AS INT) AS simhash FROM bits)
    SELECT doc_id, simhash,
           min(doc_id) OVER (PARTITION BY simhash) AS cluster_id
    FROM sh
    """


def _oracle_simhash_keep_best() -> str:
    core = _oracle_simhash()
    return f"""
    WITH clustered AS ({core}),
    sized AS (
        SELECT c.doc_id, c.simhash,
               len(string_split(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')), ' '))
                   AS n_tokens
        FROM clustered c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT simhash,
           doc_id AS keeper_doc_id,
           CAST(n_tokens AS BIGINT) AS keeper_tokens,
           CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_members
    FROM sized
    QUALIFY row_number() OVER (
        PARTITION BY simhash ORDER BY n_tokens DESC, doc_id) = 1
    """


@query("dedup_simhash", oracle=_oracle_simhash())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup: 16-bit signature from md5-derived per-bit sign
    sums weighted by term frequency; docs clustering to the same
    signature share a cluster_id (min doc_id). Two shuffles total
    (tf aggregate, bit aggregate) regardless of corpus size; pair
    generation at scale bands the bits exactly like MinHash-LSH."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("w"),
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    # hash each distinct (doc, term) ONCE in a projection; the 16
    # per-bit aggregate expressions then probe substrings of the
    # precomputed hex — inlining F.md5("w") into every bit term asked
    # the aggregate to evaluate 16 md5 calls per input row (whether
    # codegen's subexpression elimination catches all 16 is
    # plan-shape-dependent; hoisting makes it structural)
    tf = tf.withColumn("h", F.md5("w"))
    bit_sums = [
        F.sum(
            F.when(
                F.substring(F.col("h"), i + 1, 1).isin(*_HEX_HIGH), F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = tf.groupBy("doc_id").agg(*bit_sums)
    value = sum(
        (F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(SIMHASH_BITS)),
        start=F.lit(0),
    )
    sh = bits.select("doc_id", value.cast("int").alias("simhash"))
    return sh.select(
        "doc_id",
        "simhash",
        F.min("doc_id").over(Window.partitionBy("simhash")).alias("cluster_id"),
    )


@query("dedup_keep_best", oracle=_oracle_simhash_keep_best())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the resolution policy that
    follows any clustering dedup: per near-dup cluster (equal simhash
    here), keep the highest-quality member (most tokens, doc_id
    tiebreak) and record the cluster size. One extra window over the
    cluster key on top of the simhash pipeline; at 100 TB the keeper
    choice is a per-cluster top-1 (the same bounded window as
    window_topk_per_group), never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    clustered = dedup_simhash(spark, sf_dir)
    sized = clustered.join(
        docs.select("doc_id", F.size(F.split(norm_text(F.col("text")), " ")).alias("n_tokens")),
        "doc_id",
    )
    w = Window.partitionBy("simhash").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    return (
        sized.withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("simhash")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "simhash",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_tokens").cast("long").alias("keeper_tokens"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


# ------------------------------------------------- embedding cosine dup

COSINE_DUP_THRESHOLD = 0.999


def _crawl_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulated re-ingest: the embeddings corpus unioned with an
    id-offset copy of itself, as double vectors with L2 norms."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    crawl = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    return crawl.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn(
        "nrm", F.sqrt(F.expr("aggregate(v, 0D, (acc, x) -> acc + x * x)"))
    )


def _cosine_pairs_in(bucketed: DataFrame) -> DataFrame:
    """Exact-cosine pairs restricted to equal-``bucket`` rows: the
    self-join is an EQUI-join on the bucket key (hash join, never a
    BroadcastNestedLoopJoin), so the pair space is sum over buckets of
    n_b^2 instead of n^2."""
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                F.expr(
                    "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
                )
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


def _oracle_embedding_cosine() -> str:
    # deferred import only to build the oracle string — the bucketing
    # planes are shared with the similarity operators so dedup and ANN
    # serving can reuse one persisted bucket column
    from .similarity import _bucket_expr_duck

    return f"""
    WITH crawl AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings
    ),
    vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM crawl
    ),
    b AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               CAST({_bucket_expr_duck()} AS INT) AS bucket
        FROM vecs
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               round(list_sum(list_transform(range(1, len(a.v) + 1),
                     i -> a.v[i] * b2.v[i])) / (a.nrm * b2.nrm), 6) AS cosine
        FROM b a JOIN b b2
          ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs
    WHERE cosine >= {COSINE_DUP_THRESHOLD}
    """


@query("dedup_embedding_cosine", oracle=_oracle_embedding_cosine())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup on a simulated re-ingest (corpus unioned with
    an id-offset copy): every pair with cosine >= 0.999 is a duplicate
    — exactly the planted copies, since the corpus's max organic
    cosine is ~0.51.

    DEFAULT PATH IS SUB-QUADRATIC (r1's registered brute-force
    all-pairs theta join was the one dedup entry that would not
    survive 100 TB): vectors hash to a sign-LSH bucket with the same
    deterministic md5 hyperplanes as the ANN operators
    (operators/similarity.py), candidates come from an equi-join on
    the bucket, and exact cosine is verified inside buckets only. At
    cosine >= 0.999 the vectors are near-identical, so per-plane
    disagreement probability is ~angle/pi ~= 0.8%; exact copies hash
    identically, so recall on true duplicates is exact-by-construction
    here and tunable via planes/multi-probe in general. Brute force
    remains as the small-sf oracle cross-check
    (tests/test_llm_ops.py). Dot products are JVM-side array
    expressions (zip_with + aggregate), doubles end-to-end."""
    from .similarity import _bucket_expr_spark

    # lazy lineage cut: both self-join sides consume the bucketed
    # frame — uncut, each side re-scanned embeddings twice (the union)
    # and re-ran the cast + norm + 16-plane bucket projection
    # (observed: 4 embeddings scans; guide §1.2)
    bucketed = (
        _crawl_vectors(spark, sf_dir)
        .withColumn("bucket", F.expr(_bucket_expr_spark()).cast("int"))
        .localCheckpoint(eager=False)
    )
    return _cosine_pairs_in(bucketed)


def dedup_embedding_cosine_bruteforce(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O(n^2) all-pairs baseline (NOT registered — it exists as the
    recall cross-check for the bucketed default in
    tests/test_llm_ops.py; at scale this plan is a
    BroadcastNestedLoopJoin and must never be the production path)."""
    v = _crawl_vectors(spark, sf_dir).withColumn("bucket", F.lit(0))
    return _cosine_pairs_in(v).drop("bucket")


# ---------------------------------------------------------------- winnowing

WINNOW_K = 24  # char k-gram length (~4 words: discriminative on the small-vocab corpus; see docstring)
WINNOW_W = 4  # winnowing window (k-grams per window)
WINNOW_DF_CAP = 8  # drop fingerprints shared by more docs (stop-grams)
WINNOW_MIN_SHARED = 10
WINNOW_RATIO = 0.5

_WNORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
# the per-k-gram hash (``i`` is the 1-based position in the transform)
_WINNOW_HASH = f"md5(substring(norm, i, {WINNOW_K}))"



def _winnow_oracle(min_len: int, pairs_only: bool) -> str:
    """ONE oracle formulation for BOTH winnowing queries (the full md5
    twin and the length-floored pairs projection), parameterized by
    the length floor and the projection — so the two registered SQL
    strings cannot drift from each other or from ``_winnow_pairs``."""
    projection = (
        "SELECT s.doc_a, s.doc_b"
        if pairs_only
        else """SELECT s.doc_a, s.doc_b, s.n_shared,
           round(s.n_shared * 1.0 /
                 least(sa.n_fp, sb.n_fp), 6) AS overlap_ratio"""
    )
    floor = f"WHERE length(norm) >= {min_len}" if min_len else ""
    return f"""
    WITH crawl AS (
        SELECT doc_id, norm FROM (
            SELECT doc_id, {_WNORM} AS norm FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   'shifted prefix pad ' || {_WNORM} FROM documents
        ) {floor}
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(1, length(norm) - {WINNOW_K} + 2)) AS pos,
               unnest(list_transform(
                   range(1, length(norm) - {WINNOW_K} + 2),
                   i -> md5(substr(norm, i, {WINNOW_K}))
               )) AS h
        FROM crawl
        WHERE length(norm) >= {WINNOW_K}
    ),
    winmin AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n_pos
        FROM grams
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM winmin
        WHERE pos <= n_pos - {WINNOW_W} + 1
    ),
    capped AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(*) <= {WINNOW_DF_CAP}
    ),
    live AS (
        SELECT f.doc_id, f.fp FROM fps f
        WHERE EXISTS (SELECT 1 FROM capped c WHERE c.fp = f.fp)
    ),
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY 1
    ),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM live a JOIN live b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    {projection}
    FROM shared s
    JOIN sizes sa ON s.doc_a = sa.doc_id
    JOIN sizes sb ON s.doc_b = sb.doc_id
    WHERE s.n_shared >= {WINNOW_MIN_SHARED}
      AND round(s.n_shared * 1.0 / least(sa.n_fp, sb.n_fp), 6)
          >= {WINNOW_RATIO}
    """


@query("dedup_winnowing", oracle=_winnow_oracle(0, pairs_only=False))
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup detection (Schleimer/Wilkerson/
    Aiken, SIGMOD'03 — the MOSS algorithm): each document keeps the
    MIN k-gram hash of every w-gram window; a copy with content
    shifted by an arbitrary offset keeps almost the same fingerprint
    set, which fixed-chunk hashing loses entirely. Demonstrated on a
    planted re-crawl whose copies are prefix-shifted.

    Shape at 100 TB: the entire hash -> window-min -> distinct
    extraction is DOC-LOCAL, expressed as higher-order array functions
    in one narrow projection — rows leave the document grain only as
    final fingerprints (the DuckDB oracle deliberately keeps the
    equivalent explode+window formulation: two independent
    formulations hashing identically is the strongest parity
    evidence). The pair space is an inverted-index equi-join on
    fingerprint, bounded by the fingerprint DF cap exactly like the
    capped-Jaccard shingle join — hot boilerplate fingerprints are
    dropped as stop-grams before any pairing. No stage is ever
    corpus-quadratic. The md5-per-position cost is the cross-engine
    determinism tax (module docstring)."""
    return _winnow_pairs(spark, sf_dir)


# Length floor of ``dedup_winnowing_fast``: docs >= 120 normalized
# chars carry ~40+ fingerprints, so true copies land far above the
# accept thresholds, and the short tail (cheap by definition) can be
# routed to the full query. The floor does NOT make the pair set
# hash-invariant: which k-gram each window elects depends on the hash,
# and the DF cap and n_shared floor act on fingerprint counts, so a
# different hash moves pairs across the thresholds at any length (an
# xxhash64 variant of this query returned 1519 pairs where the md5
# oracle returns 1543 on the benchmark generator's 1000-doc corpus,
# seed 2). Every
# winnowing query therefore hashes with md5, the one hash DuckDB
# replays bit-for-bit.
WINNOW_FAST_MIN_LEN = 120


@query(
    "dedup_winnowing_fast",
    # Same formulation as dedup_winnowing (one shared builder — the
    # strings CANNOT drift) with the length floor applied and the
    # projection cut to the accepted PAIRS only.
    oracle=_winnow_oracle(WINNOW_FAST_MIN_LEN, pairs_only=True),
)
def dedup_winnowing_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-corpus winnowing: ``dedup_winnowing``'s pipeline scoped to
    docs >= WINNOW_FAST_MIN_LEN normalized chars (see the constant's
    note), returning only the accepted near-dup PAIRS — the decision
    a dedup pipeline acts on."""
    return _winnow_pairs(spark, sf_dir, min_len=WINNOW_FAST_MIN_LEN).select(
        "doc_a", "doc_b"
    )


def _winnow_pairs(spark: SparkSession, sf_dir: str, min_len: int = WINNOW_K) -> DataFrame:
    """Shared winnowing pipeline over the docs of at least ``min_len``
    normalized chars; every k-gram is hashed with md5 (``_WINNOW_HASH``),
    and each window elects its MIN hash as the fingerprint."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", norm_text(F.col("text")).alias("norm")
    )
    crawl = (
        docs.unionByName(
            docs.select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("shifted prefix pad "), F.col("norm")).alias("norm"),
            )
        )
        # a doc needs at least one full winnowing window (w k-grams) to
        # fingerprint at all — shorter docs produced zero rows after
        # the window filter anyway, so dropping them here is identical
        .filter(F.length("norm") >= max(min_len, WINNOW_K + WINNOW_W - 1))
        # the per-doc k-gram hashing is ~300x ops per input row and is
        # the dominant cost; a small single-file corpus scans as 1-2
        # splits, which would run that narrow stage on 2 cores — spread
        # the CHEAP rows across the cluster before the expensive map
        # (at real scale the input has thousands of splits and this
        # shuffle is a no-op-sized rebalance)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Stage A: hash every k-gram position into ONE array column —
    # doc-local, no explode. n_pos = length - k + 1 positions.
    hashed = crawl.select(
        "doc_id",
        (F.length("norm") - WINNOW_K + 1).alias("n_pos"),
        F.expr(
            f"transform(sequence(1, length(norm) - {WINNOW_K} + 1), "
            f"i -> {_WINNOW_HASH})"
        ).alias("hs"),
    )
    # Stage B: winnowing election as a doc-local sliding min —
    # fp[j] = min(hs[j .. j+w-1]) for each of the n_pos - w + 1
    # windows — then per-doc dedup via array_distinct, all inside one
    # narrow projection (the DuckDB oracle deliberately keeps the
    # equivalent explode+window formulation: two independent
    # formulations hashing identically is the strongest parity
    # evidence). The repartition between A and B is a correctness
    # barrier as much as a balance one: adjacent Projects collapse,
    # and inlining `hs` into the slice lambda would re-hash the whole
    # doc per window — O(n^2). An Exchange pins stage A's output.
    # Replaces the old explode + Window(partitionBy doc_id) + distinct
    # formulation: no 300x-row shuffle-and-sort, no (doc, fp) distinct
    # exchange — measured 5.3s -> ~2s on the md5 twin at sf0.1.
    fparr = (
        hashed.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, n_pos - {WINNOW_W} + 1), "
                    f"j -> array_min(slice(hs, j, {WINNOW_W})))"
                )
            ).alias("fps"),
        )
        # materialize ONCE via localCheckpoint, at the DOC grain (one
        # array row per doc — ~40x fewer rows than the exploded form
        # the earlier revision checkpointed): the extraction feeds the
        # fingerprint explode below AND the doc-local sizes projection.
        # An earlier revision repartitioned on fp and persist()ed so
        # the downstream joins would be exchange-free — HONEST
        # re-measurement (after fixing the bench to not time
        # CacheManager hits) showed that variant ~2x SLOWER at sf0.1
        # (7.5s vs 3.8s): the repartition exchange + cache write cost
        # more than the exchanges they saved, and the persisted table
        # leaked a session-lifetime cache entry per invocation.
        # localCheckpoint is also honest by construction: each
        # invocation builds a fresh RDD, so min-of-N benches recompute
        # every run.
        .localCheckpoint(eager=True)
    )
    # n_fp is the distinct-fingerprint count per doc == the array size
    # — computed doc-locally off the checkpoint; the old formulation
    # re-shuffled every exploded (doc_id, fp) row into a doc_id
    # aggregate just to recount what the array already knows.
    sizes = fparr.select("doc_id", F.size("fps").alias("n_fp"))
    fps = fparr.select("doc_id", F.explode("fps").alias("fp"))
    # DF cap + inverted-index pairing in ONE fp exchange (guide §2.3:
    # aggregate before you shuffle again): group the doc ids per
    # fingerprint — (doc_id, fp) is distinct by construction, so the
    # group SIZE is the document frequency and the old count-aggregate
    # + semi-join-back + fp-keyed self-join (three more fps-sized
    # exchanges) collapse into this one aggregate. Pairs are generated
    # doc-locally from the sorted group; the DF cap bounds each group
    # at WINNOW_DF_CAP docs -> C(cap,2) pairs, exactly the bounded
    # pair space the join produced.
    groups = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= WINNOW_DF_CAP))
    )
    pairs = groups.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                "b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    shared = (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("n_fp_a", "n_fp_b"), 6
            ).alias("overlap_ratio"),
        )
        .filter(F.col("overlap_ratio") >= WINNOW_RATIO)
    )


# ------------------------------------------ repeated-substring spans

# Exact substring-level deduplication (the modality the doc-level
# dedups above cannot express): find every maximal token span whose
# k-grams occur more than once in the corpus — the spans an
# exact-substring dedup pass (suffix-array style, as popularized for
# LLM pretraining corpora) would cut from the training set. Suffix
# arrays don't distribute; the standard scale-out equivalent is
# hashed fixed-k token grams -> corpus-wide occurrence count ->
# island-merge of overlapping repeated positions, which finds exactly
# the repeated substrings of length >= SPAN_K tokens.
#
# 100-TB shape: gram extraction is doc-local array expressions (no
# explode until one row per position), the occurrence count is one
# hash-agg on the gram hash, the join back is an equi-join on the
# same key, and the island merge is a per-doc window — nothing is
# corpus-quadratic and nothing ships text, only 16-byte hashes.
# Span membership is invariant to the CHOICE of gram hash (any
# injective hash marks the same positions), so the xxhash64 fast twin
# below is bit-identical to this md5 formulation modulo collisions —
# unlike winnowing there is no threshold for a hash swap to perturb.

SPAN_K = 8  # token k-gram length (= min repeated-substring length)
SPAN_MIN_COUNT = 2  # corpus-wide occurrences for a gram to be "repeated"

_SPAN_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _repeated_span_frame(
    spark: SparkSession, sf_dir: str, gram_hash: str
) -> DataFrame:
    """Shared plan for the md5 / xxhash64 twins over the documents
    table."""
    return repeated_spans_for(load_table(spark, sf_dir, "documents"), gram_hash)


def repeated_spans_for(docs: DataFrame, gram_hash: str) -> DataFrame:
    """Repeated-span detection over any (doc_id, text) frame:
    ``gram_hash`` is a Spark-SQL expression over the token-array
    column ``t`` and the 0-based position ``i`` (slice is 1-based:
    ``slice(t, i + 1, K)``). Public so pipelines (and the planted-
    corpus property test) can run it on arbitrary corpora."""
    toks = docs.select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= SPAN_K)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {SPAN_K}),"
                f" i -> struct(i AS pos, {gram_hash} AS g))"
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
    # corpus-wide occurrence count as a window COUNT over the gram
    # key instead of the old aggregate + semi-join-back: the former
    # plan shuffled the gram rows TWICE (once into the count agg,
    # once into the join) and needed a lineage cut so the two
    # consumers shared one extraction — one window pass shuffles them
    # once, needs no materialization, and the filter is the same
    # n_occ >= SPAN_MIN_COUNT predicate (guide §2.4: two operations
    # keyed the same way share one exchange).
    w_g = Window.partitionBy("g")
    spans = (
        grams.withColumn("n_occ", F.count(F.lit(1)).over(w_g))
        .filter(F.col("n_occ") >= SPAN_MIN_COUNT)
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("s"),
            (F.col("pos") + SPAN_K).cast("long").alias("e"),
        )
    )
    return _merge_islands(spans).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        "n_grams",
    )


def _merge_islands(spans: DataFrame) -> DataFrame:
    """Island merge: (doc_id, s, e) spans that overlap/touch collapse
    into maximal (doc_id, span_start, span_end, n_grams) rows — same
    gaps-and-islands plan as interval_merge_activity, windows.py:339."""
    w = Window.partitionBy("doc_id").orderBy("s")
    x = spans.withColumn(
        "prev_max_e",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    y = x.withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        ).otherwise(0),
    )
    z = y.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return z.groupBy("doc_id", "island").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    )


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split({_SPAN_NORM}, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(1, len(t) - {SPAN_K} + 2)) - 1 AS pos,
               unnest(list_transform(
                   range(1, len(t) - {SPAN_K} + 2),
                   i -> md5(array_to_string(t[i:i + {SPAN_K} - 1], ' '))
               )) AS g
        FROM toks WHERE len(t) >= {SPAN_K}
    ),
    rep AS (
        SELECT g FROM grams GROUP BY g HAVING count(*) >= {SPAN_MIN_COUNT}
    ),
    spans AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS s,
               CAST(pos + {SPAN_K} AS BIGINT) AS e
        FROM grams WHERE g IN (SELECT g FROM rep)
    ),
    x AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_e
        FROM spans
    ),
    y AS (
        SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                       THEN 1 ELSE 0 END AS new_island
        FROM x
    ),
    z AS (
        SELECT *, sum(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                        ROWS UNBOUNDED PRECEDING) AS island
        FROM y
    )
    SELECT doc_id,
           min(s) AS span_start,
           max(e) AS span_end,
           max(e) - min(s) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM z
    GROUP BY doc_id, island
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated token spans (>= SPAN_K tokens occurring >=
    SPAN_MIN_COUNT times corpus-wide) per document — the distributed
    equivalent of suffix-array exact-substring dedup for pretraining
    corpora. The reference has no substring-level operator (its dedup
    surface is row-level, racedag.py drop_duplicates); this closes the
    one dedup modality doc-level minhash/simhash/winnowing cannot see:
    a boilerplate paragraph embedded in otherwise-unique documents.
    md5 gram hashes for cross-engine parity; ``_fast`` twin below is
    the production path."""
    return _repeated_span_frame(
        spark, sf_dir, f"md5(array_join(slice(t, i + 1, {SPAN_K}), ' '))"
    )


@query(
    "dedup_repeated_spans_fast",
    # Same SQL as dedup_repeated_spans: span membership is a function
    # of gram EQUALITY only, so any injective hash yields the same
    # spans — DuckDB replays the md5 formulation and the result must
    # be bit-identical (no thresholds for a hash swap to perturb;
    # contrast WINNOW_FAST_MIN_LEN).
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split({_SPAN_NORM}, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(1, len(t) - {SPAN_K} + 2)) - 1 AS pos,
               unnest(list_transform(
                   range(1, len(t) - {SPAN_K} + 2),
                   i -> md5(array_to_string(t[i:i + {SPAN_K} - 1], ' '))
               )) AS g
        FROM toks WHERE len(t) >= {SPAN_K}
    ),
    rep AS (
        SELECT g FROM grams GROUP BY g HAVING count(*) >= {SPAN_MIN_COUNT}
    ),
    spans AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS s,
               CAST(pos + {SPAN_K} AS BIGINT) AS e
        FROM grams WHERE g IN (SELECT g FROM rep)
    ),
    x AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_e
        FROM spans
    ),
    y AS (
        SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                       THEN 1 ELSE 0 END AS new_island
        FROM x
    ),
    z AS (
        SELECT *, sum(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                        ROWS UNBOUNDED PRECEDING) AS island
        FROM y
    )
    SELECT doc_id,
           min(s) AS span_start,
           max(e) AS span_end,
           max(e) - min(s) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM z
    GROUP BY doc_id, island
    """,
)
def dedup_repeated_spans_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production repeated-span detection: xxhash64 gram hashes (long
    keys, one JVM hash vs md5's digest + 32-char string shuffle).
    Identical output to ``dedup_repeated_spans`` for any
    collision-free hash; tests/test_llm_ops.py asserts the span sets
    match the md5 twin's exactly."""
    return _repeated_span_frame(
        spark, sf_dir, f"xxhash64(array_join(slice(t, i + 1, {SPAN_K}), ' '))"
    )


# ----------------------------------- repeated-substring apply (cut)

# The full tokenize -> gram -> canonical-occurrence -> island-merge
# -> cut CTE chain, shared between the batch apply oracle below and
# the streaming span-ingest parity oracle
# (streaming/batch_windows.py) — one chain, two consumers, so the
# stream is always compared against exactly the batch contract.
def span_apply_ctes(src: str = "documents") -> str:
    """The chain above, rebased on ``src`` (a table or prior CTE with
    doc_id + text columns). The composed crawl-ingest pipeline oracle
    runs it on the URL gate's kept set — the cut decisions are
    corpus-global over whatever corpus the stage actually sees, so
    the source must be a parameter, not a constant."""
    return f"""toks AS (
        SELECT doc_id, string_split({_SPAN_NORM}, ' ') AS t FROM {src}
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(1, len(t) - {SPAN_K} + 2)) - 1 AS pos,
               unnest(list_transform(
                   range(1, len(t) - {SPAN_K} + 2),
                   i -> md5(array_to_string(t[i:i + {SPAN_K} - 1], ' '))
               )) AS g
        FROM toks WHERE len(t) >= {SPAN_K}
    ),
    rep AS (
        SELECT g FROM grams GROUP BY g HAVING count(*) >= {SPAN_MIN_COUNT}
    ),
    occ AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM grams WHERE g IN (SELECT g FROM rep)
    ),
    removable AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS s,
               CAST(pos + {SPAN_K} AS BIGINT) AS e
        FROM occ WHERE rn > 1
    ),
    x AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_e
        FROM removable
    ),
    y AS (
        SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                       THEN 1 ELSE 0 END AS new_island
        FROM x
    ),
    z AS (
        SELECT *, sum(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                        ROWS UNBOUNDED PRECEDING) AS island
        FROM y
    ),
    merged AS (
        SELECT doc_id, min(s) AS ms, max(e) AS me
        FROM z GROUP BY doc_id, island
    ),
    nspans AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut
        FROM merged GROUP BY doc_id
    ),
    tokpos AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(range(0, len(t))) AS idx
        FROM toks
    ),
    kept AS (
        SELECT tp.doc_id, tp.tok, tp.idx FROM tokpos tp
        WHERE NOT EXISTS (
            SELECT 1 FROM merged m
            WHERE m.doc_id = tp.doc_id AND tp.idx >= m.ms AND tp.idx < m.me
        )
    ),
    cleaned AS (
        SELECT doc_id,
               array_to_string(array_agg(tok ORDER BY idx), ' ')
                   AS cleaned_text,
               CAST(count(*) AS BIGINT) AS n_tokens_after
        FROM kept GROUP BY doc_id
    )"""


SPAN_APPLY_CTES = span_apply_ctes()


@query(
    "dedup_repeated_spans_apply",
    oracle=f"""
    WITH {SPAN_APPLY_CTES}
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens_before,
           coalesce(c.n_tokens_after, 0) AS n_tokens_after,
           coalesce(n.n_spans_cut, 0) AS n_spans_cut,
           coalesce(c.cleaned_text, '') AS cleaned_text
    FROM toks tk
    LEFT JOIN cleaned c ON c.doc_id = tk.doc_id
    LEFT JOIN nspans n ON n.doc_id = tk.doc_id
    """,
)
def dedup_repeated_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring dedup (Lee et al.'s 'Deduplicating Training
    Data Makes Language Models Better' semantics): every occurrence of
    a repeated >= SPAN_K-token substring is CUT except the globally
    first one (first by (doc_id, pos) — deterministic, engine-
    independent). `dedup_repeated_spans` reports where the repeats
    are; this emits the cleaned corpus a training pipeline actually
    feeds downstream: per doc, the surviving text plus before/after
    token counts.

    Plan: the canonical-occurrence choice is ONE window over the gram
    key (row_number per g); removable extents island-merge per doc;
    the cut itself is a doc-local higher-order-function filter over
    (token, index) pairs — no explode of the corpus tokens, no
    Python. Docs with nothing to cut pass through via the left join
    (n_spans_cut = 0), so the operator is total over the corpus.

    Gram hash: xxhash64 (the production hash the streaming span sink
    already uses) — cut decisions are a function of gram EQUALITY
    only and the output carries no hash column, so any injective hash
    yields bit-identical cleaned text while the long key shuffles and
    sorts 4x less data than the 32-char md5 string (guide §2.3
    narrower types). The DuckDB oracle replays the md5 chain — the
    same cross-hash twin argument as ``dedup_repeated_spans_fast``
    and the sink's parity oracle; the md5 default on
    ``repeated_spans_apply_for`` stays so the stream==batch property
    test remains a real cross-hash check."""
    return repeated_spans_apply_for(
        load_table(spark, sf_dir, "documents"),
        gram_hash=f"xxhash64(array_join(slice(t, i + 1, {SPAN_K}), ' '))",
    )


def repeated_spans_apply_for(
    docs: DataFrame,
    gram_hash: str = f"md5(array_join(slice(t, i + 1, {SPAN_K}), ' '))",
) -> DataFrame:
    """The substring-dedup cut over ANY (doc_id, text) frame — the
    frame-parameterized form of ``dedup_repeated_spans_apply`` (its
    docstring has the semantics and the plan analysis), public for
    pipelines and for the property tests that pin the streaming
    span-ingest sink's equivalence on arbitrary corpora (the
    ``repeated_spans_for`` precedent)."""
    toks = docs.select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("t")
    )
    toks = toks.localCheckpoint(eager=False)  # reused for grams AND the cut
    grams = (
        toks.filter(F.size("t") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {SPAN_K}),"
                    f" i -> struct(i AS pos, {gram_hash} AS g))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
    )
    # Non-first occurrences directly from ONE row_number window over
    # the gram key: rn > 1 already implies the gram repeats, so the
    # old occurrence-count aggregate + semi-join-back (two more gram
    # shuffles, plus the lineage cut they forced) computed nothing the
    # window does not — the oracle's occ CTE filters to repeated grams
    # first, but ranks within a gram group are unchanged by dropping
    # other groups, so the surviving rows are identical (guide §2.4).
    occ_w = Window.partitionBy("g").orderBy("doc_id", "pos")
    removable = (
        grams.withColumn("rn", F.row_number().over(occ_w))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("s"),
            (F.col("pos") + SPAN_K).cast("long").alias("e"),
        )
    )
    return span_cut_apply(toks, removable)


def span_cut_apply(toks: DataFrame, removable: DataFrame) -> DataFrame:
    """The CUT stage of the substring dedup, shared between the batch
    apply query above and the streaming span-dedup ingest sink
    (streaming/runtime.py): island-merge the removable (doc_id, s, e)
    extents, then cut them from ``toks`` (doc_id, t) with a doc-local
    higher-order-function filter — no corpus-token explode, no
    Python. Docs with nothing to cut pass through via the left join
    (n_spans_cut = 0), so the result is total over ``toks``."""
    merged = _merge_islands(removable).select(
        "doc_id",
        F.struct(
            F.col("span_start").alias("s"), F.col("span_end").alias("e")
        ).alias("sp"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.collect_list("sp").alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans_cut"),
    )
    joined = toks.join(per_doc, "doc_id", "left").withColumn(
        "spans", F.coalesce(F.col("spans"), F.expr("array()"))
    )
    kept = joined.withColumn(
        "kept",
        F.expr(
            "filter(transform(t, (x, i) -> struct(x AS tok, CAST(i AS BIGINT) AS idx)),"
            " p -> NOT exists(spans, sp -> p.idx >= sp.s AND p.idx < sp.e))"
        ),
    )
    return kept.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens_before"),
        F.size("kept").cast("long").alias("n_tokens_after"),
        F.coalesce(F.col("n_spans_cut"), F.lit(0)).alias("n_spans_cut"),
        F.array_join(
            F.expr("transform(kept, p -> p.tok)"), " "
        ).alias("cleaned_text"),
    )


# --------------------------------------------- bloom-prefilter exact dedup

# Incremental EXACT dedup with a Bloom-filter prefilter: the corpus
# fingerprint set is summarized into an m-bit Bloom filter (k hash
# positions per element); an incoming crawl batch checks its k bits
# against the summary and only bloom-positive docs pay the exact
# fingerprint join. The filter is deterministic (bit positions are
# disjoint 8-hex slices of the md5 fingerprint itself) so the DuckDB
# oracle replays it bit-for-bit, false positives included.
#
# Sizing here is deliberately tight (m = 1024 bits for ~500 corpus
# fps ~ 2 bits/element, ~77% fill, ~46% false-positive rate) so the
# test corpus EXERCISES the false-positive path — production sizes
# ~10 bits/element for <1% FP (same plan, bigger m).
BLOOM_M = 1024
BLOOM_K = 3


def _bloom_bits_spark(fp_col: str) -> list[F.Column]:
    return [
        (F.conv(F.substring(fp_col, 1 + 8 * j, 8), 16, 10).cast("long") % BLOOM_M)
        for j in range(BLOOM_K)
    ]


def _bloom_bits_sql(fp: str) -> list[str]:
    return [
        f"CAST(('0x' || substr({fp}, {1 + 8 * j}, 8)) AS BIGINT) % {BLOOM_M}"
        for j in range(BLOOM_K)
    ]


_BLOOM_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH corpus AS (
        SELECT DISTINCT {_BLOOM_FP} AS fp FROM documents
    ),
    batch AS (
        SELECT doc_id + 1000000 AS doc_id, {_BLOOM_FP} AS fp
        FROM documents WHERE doc_id % 10 = 2
        UNION ALL
        SELECT doc_id + 2000000,
               md5(trim(regexp_replace(lower(text || ' fresh crawl suffix'),
                                       '\\s+', ' ', 'g')))
        FROM documents WHERE doc_id % 10 = 7
    ),
    cbits AS (
        SELECT DISTINCT bit FROM (
            {" UNION ALL ".join(f"SELECT {b} AS bit FROM corpus" for b in _bloom_bits_sql("fp"))}
        )
    ),
    bbits AS (
        SELECT doc_id, fp,
               unnest([{", ".join(_bloom_bits_sql("fp"))}]) AS bit
        FROM batch
    ),
    scored AS (
        SELECT b.doc_id, b.fp, count(c.bit) = {BLOOM_K} AS bloom_hit
        FROM bbits b LEFT JOIN cbits c ON b.bit = c.bit
        GROUP BY 1, 2
    )
    SELECT s.doc_id,
           s.bloom_hit,
           s.bloom_hit AND cf.fp IS NOT NULL AS is_dup,
           s.bloom_hit AND cf.fp IS NULL AS bloom_fp
    FROM scored s
    LEFT JOIN corpus cf ON s.bloom_hit AND s.fp = cf.fp
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus EXACT dedup behind a Bloom-filter prefilter.
    The corpus fingerprint set folds into BLOOM_M distinct set bits
    (BLOOM_K positions per fp); each batch doc probes its K bits and
    only bloom-positive candidates pay the exact fingerprint join.
    Output per batch doc: bloom_hit (summary said maybe), is_dup
    (exact verify), bloom_fp (the false positives the exact join
    rejected — nonzero by construction at this deliberately tight
    sizing; no false NEGATIVES ever, the Bloom guarantee).

    100-TB shape: the bit set is at most BLOOM_M rows (a few KB —
    broadcast; production keeps it as a bitmap on longs, same
    semantics), so the corpus is NEVER rescanned per batch — it is
    summarized once and only bloom-positive fps touch the exact
    corpus-fp join, the same O(batch + collisions) recurrence as
    dedup_incremental_minhash but for exact identity. The batch here
    is a synthetic re-crawl: half true re-crawls (dup), half
    suffix-perturbed (new content)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text"))).alias("fp")
    # one lazy lineage cut: the corpus fingerprint set feeds BOTH the
    # bit-set build and the exact verify join — without it each
    # consumer re-scanned documents and re-ran the md5+distinct
    # (guide §1.2; this query's plan scanned documents SEVEN times
    # before this pass: 2x corpus, 2x the two-scan batch union, each
    # doubled again by the hits/misses fan-out below)
    corpus = docs.select(fp).distinct().localCheckpoint(eager=False)
    # the synthetic re-crawl batch in ONE scan: both modulo cohorts
    # come off the same pass with branch expressions instead of a
    # union of two separately-scanned, separately-hashed legs
    m = F.col("doc_id") % 10
    batch = docs.filter(m.isin(2, 7)).select(
        (
            F.col("doc_id")
            + F.when(m == 2, F.lit(1000000)).otherwise(F.lit(2000000))
        ).alias("doc_id"),
        F.when(m == 2, F.md5(norm_text(F.col("text"))))
        .otherwise(
            F.md5(
                norm_text(F.concat(F.col("text"), F.lit(" fresh crawl suffix")))
            )
        )
        .alias("fp"),
    )
    cbits = (
        corpus.select(F.explode(F.array(*_bloom_bits_spark("fp"))).alias("bit"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    scored = (
        batch.select(
            "doc_id", "fp", F.explode(F.array(*_bloom_bits_spark("fp"))).alias("bit")
        )
        .join(F.broadcast(cbits), "bit", "left")
        .groupBy("doc_id", "fp")
        .agg((F.coalesce(F.sum("_set"), F.lit(0)) == BLOOM_K).alias("bloom_hit"))
    )
    # the scored frame fans out to the hits/misses branches — cut it
    # once so the whole bit-probe aggregate runs once, not per branch
    scored = scored.localCheckpoint(eager=False)
    hits = scored.filter(F.col("bloom_hit"))
    verified = hits.join(
        corpus.withColumn("_dup", F.lit(1)), "fp", "left"
    ).select(
        "doc_id",
        "bloom_hit",
        F.col("_dup").isNotNull().alias("is_dup"),
        F.col("_dup").isNull().alias("bloom_fp"),
    )
    misses = scored.filter(~F.col("bloom_hit")).select(
        "doc_id",
        "bloom_hit",
        F.lit(False).alias("is_dup"),
        F.lit(False).alias("bloom_fp"),
    )
    return verified.unionByName(misses)


# ----------------------------------------------- shingle containment
# Jaccard misses the QUOTE/INCLUSION shape: a 50-shingle doc fully
# embedded in a 5000-shingle doc has Jaccard ~0.01 but containment
# C(A in B) = |sh(A) n sh(B)| / |sh(A)| = 1.0. Containment is the
# metric crawl dedup actually wants for "this page is that page plus
# boilerplate" (Broder's original resemblance/containment pair), and
# it is ASYMMETRIC — both directions are computed from ONE
# intersection pass. Same bounded-pair-space machinery as the capped
# Jaccard: DF-capped shingles bound every shingle's pair contribution,
# and the intersection counts come from the identical inverted-index
# self-join (one shuffle on the shingle key), so at 100 TB this costs
# exactly what dedup_ngram_jaccard_capped costs plus a doubled
# (tiny) result projection.

CONTAINMENT_T = 0.9


def containment_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, c_ab, c_ba) with doc_a < doc_b — BOTH
    containment directions from ONE inverted-index intersection pass
    over a shingle frame. Pass a MATERIALIZED frame (localCheckpoint):
    it is consumed three times (sizes + both self-join sides) and the
    pruned subtrees stop being canonically equal, so without the cut
    each consumer re-runs the scan+explode (the r2 ReuseExchange
    lesson). Shared by ``dedup_containment_capped`` and the release
    waterfall (training_prep) so the two cannot drift."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / F.col("na"), 6).alias("c_ab"),
            F.round(F.col("i") / F.col("nb"), 6).alias("c_ba"),
        )
    )


def containment_oracle_ctes(sh_all_body: str) -> str:
    """The DuckDB twin of ``containment_pairs`` as a CTE-chain
    fragment (``sh_all`` through ``cont``), parameterized by the
    shingle-source CTE body so both the standalone query (shingles
    from ``documents``) and the release waterfall (shingles from the
    gate's ``t`` relation) compose the SAME machinery."""
    return f"""sh_all AS ({sh_all_body}),
    rare AS (
        SELECT s FROM sh_all GROUP BY s
        HAVING count(DISTINCT doc_id) <= {DF_CAP}
    ),
    shc AS (SELECT doc_id, s FROM sh_all WHERE s IN (SELECT s FROM rare)),
    sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    cont AS (
        SELECT doc_a, doc_b,
               round(i * 1.0 / sa.n, 6) AS c_ab,
               round(i * 1.0 / sb.n, 6) AS c_ba
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    )"""


_CONTAINMENT_SQL = f"""
    WITH {containment_oracle_ctes(oracle_shingles_cte(SHINGLE_K))}
    SELECT doc_contained, doc_container, containment
    FROM (
        SELECT doc_a AS doc_contained, doc_b AS doc_container, c_ab AS containment FROM cont
        UNION ALL
        SELECT doc_b, doc_a, c_ba FROM cont
    )
    WHERE containment >= {CONTAINMENT_T}
    ORDER BY doc_contained, doc_container
"""


@query("dedup_containment_capped", oracle=_CONTAINMENT_SQL)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(contained, container) pairs with shingle containment >=
    CONTAINMENT_T over DF-capped shingle sets (block comment above).
    One intersection pass serves both directions."""
    # capped_shingle_rows self-cuts its output (multi-consumer in
    # every caller); no second checkpoint needed
    sh = capped_shingle_rows(load_table(spark, sf_dir, "documents"))
    # cont is consumed twice (both direction projections) — cut it
    # too; it is pair-count-sized
    cont = containment_pairs(sh).localCheckpoint(eager=True)
    dirs = cont.select(
        F.col("doc_a").alias("doc_contained"),
        F.col("doc_b").alias("doc_container"),
        F.col("c_ab").alias("containment"),
    ).unionByName(
        cont.select(
            F.col("doc_b").alias("doc_contained"),
            F.col("doc_a").alias("doc_container"),
            F.col("c_ba").alias("containment"),
        )
    )
    return dirs.filter(F.col("containment") >= CONTAINMENT_T).orderBy(
        "doc_contained", "doc_container"
    )


# --------------------------------------------- prefix-filtered jaccard
# The DF cap (dedup_ngram_jaccard_capped) bounds the pair space by
# CHANGING the semantics (Jaccard over capped sets). Prefix filtering
# (Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008 PPJoin) bounds it
# while keeping the EXACT threshold semantics: order each doc's
# shingles by global rarity (df asc, shingle asc — one canonical
# order for the whole corpus) and index only the first
# p = n - ceil(t*n) + 1 of them. The prefix-filter lemma: two sets
# with J >= t must overlap in more than (1-t) of either set, so they
# MUST share at least one of each other's rarest (1-t)-fraction —
# any pair sharing NO prefix shingle is provably below threshold.
# Candidates therefore come from an inverted-index join over prefix
# rows only (rare shingles -> tiny postings lists), and the exact
# Jaccard verify runs on candidates alone.
#
# This is the third bounded-pair-space device in the dedup family
# (DF cap: changes semantics; LSH: probabilistic; prefix filter:
# exact and lossless) — the right default when the EXACT threshold
# result is required at corpus scale. Registered with the SAME
# oracle as dedup_ngram_jaccard: identical result set, scalable plan.
# Cost: one df aggregate + one per-doc rank window (doc-bounded) on
# top of the verify join; the win is the candidate count — measured
# A/B in SCALE.md.


@query("dedup_jaccard_prefix_filter", oracle=_PAIR_JACCARD_SQL)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.8 pairs via prefix-filtered
    candidate generation (block comment above) — bit-identical to
    ``dedup_ngram_jaccard``, pair space bounded by rare-prefix
    postings instead of the full inverted index."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs)
    # one materialization: the shingle relation feeds the df
    # aggregate, the prefix ranking, AND the verify join — without
    # the cut each consumer re-runs the scan+explode (the r2
    # ReuseExchange lesson)
    sh = sh.localCheckpoint(eager=True)
    df_tbl = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        sh.join(df_tbl, "s")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1
    ).select("doc_id", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _pair_jaccard(sh, candidates=cand, sizes=sizes)
