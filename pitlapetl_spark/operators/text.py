"""Text-analysis operators over ``documents`` — the LLM-data-pipeline
surface (BASELINE.json north star; SURVEY.md §7.2 M5): token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built from JVM-side array/higher-order expressions
(``split`` / ``transform`` / ``filter`` / ``aggregate``) — zero Python
UDFs, zero shuffles except where an aggregation is semantically
required. On 100 TB these run as a single narrow map stage fused into
whole-stage codegen, reading only (doc_id, text) thanks to column
pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    hash_bucket,
    norm_text,
    oracle_hash_bucket,
    shingles,
    sql_in,
    stopword_count,
    tokens,
)
from ..registry import query
from ..sources import load_table
from .aggregates import ols_fit

# BPE-ish word/number/symbol tokenizer (lowercase alpha runs, digit
# runs, single non-alnum symbols) — the "token counting" regex path
_WORD_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_ORACLE_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_ORACLE_TOKS = f"string_split({_ORACLE_NORM}, ' ')"


@query(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_ORACLE_NORM} AS norm, {_ORACLE_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(norm, '{_WORD_RE}')) AS INT) AS n_word_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks), 6) AS mean_token_len
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens +
    distinct count + mean token length. Narrow map stage, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("norm"),
        tokens(F.col("text")).alias("toks"),
    )
    return t.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.expr(f"size(regexp_extract_all(norm, '{_WORD_RE}', 0))")
        .cast("int")
        .alias("n_word_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_distinct"),
        F.round(
            F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
            / F.size("toks"),
            6,
        ).alias("mean_token_len"),
    )


def quality_signals(docs: DataFrame, *carry: str) -> DataFrame:
    """``doc_id, *carry, norm, n_tokens, n_stop, n_chars, n_punct,
    n_distinct`` per document: the counts the heuristic quality score
    reads, over the normalized text ``norm``. One narrow map stage;
    text_quality_score and text_filters.gate_scored both build on it."""
    t = docs.select(
        "doc_id",
        *carry,
        norm_text(F.col("text")).alias("norm"),
        tokens(F.col("text")).alias("toks"),
    )
    return t.select(
        "doc_id",
        *carry,
        "norm",
        F.size("toks").alias("n_tokens"),
        stopword_count(F.col("toks"), STOPWORDS["en"]).alias("n_stop"),
        F.length("norm").alias("n_chars"),
        (
            F.length("norm")
            - F.length(F.regexp_replace("norm", "[^a-z0-9 ]", ""))
        ).alias("n_punct"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )


def quality_score() -> Column:
    """The composite ``quality_score`` in [0,1] over quality_signals'
    counts: equal weights on length (saturating at 100 tokens),
    stopword presence, non-punctuation share and token diversity."""
    return F.round(
        0.25 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.25 * F.least(F.col("n_stop") * 5.0 / F.col("n_tokens"), F.lit(1.0))
        + 0.25 * (1.0 - F.col("n_punct") / F.col("n_chars"))
        + 0.25 * (F.col("n_distinct") / F.col("n_tokens")),
        6,
    ).alias("quality_score")


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_ORACLE_NORM} AS norm, {_ORACLE_TOKS} AS toks FROM documents
    ), m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, x -> x IN ({sql_in(STOPWORDS["en"])}))) AS n_stop,
               length(norm) AS n_chars,
               length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS n_punct,
               len(list_distinct(toks)) AS n_distinct
        FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
           round(n_punct * 1.0 / n_chars, 6) AS punct_ratio,
           round(n_distinct * 1.0 / n_tokens, 6) AS distinct_ratio,
           round(0.25 * least(n_tokens / 100.0, 1.0)
               + 0.25 * least(n_stop * 5.0 / n_tokens, 1.0)
               + 0.25 * (1.0 - n_punct * 1.0 / n_chars)
               + 0.25 * (n_distinct * 1.0 / n_tokens), 6) AS quality_score
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length, stopword ratio, punctuation
    density, token diversity -> composite score in [0,1]. The exact
    filter a pre-training pipeline runs before expensive stages."""
    m = quality_signals(load_table(spark, sf_dir, "documents"))
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        F.round(F.col("n_punct") / F.col("n_chars"), 6).alias("punct_ratio"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
        quality_score(),
    )


_LANGS = ("en", "de", "es", "fr")


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents),
    s AS (
        SELECT doc_id, len(toks) AS n,
               {", ".join(
                   f"len(list_filter(toks, x -> x IN ({sql_in(STOPWORDS[lang])}))) AS s_{lang}"
                   for lang in _LANGS
               )}
        FROM t
    )
    SELECT doc_id,
           {", ".join(f"round(s_{lang} * 1.0 / n, 6) AS score_{lang}" for lang in _LANGS)},
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram/stopword heuristic: score each language by
    its stopword-profile hit ratio, argmax with a fixed priority order.
    (The synthetic corpus is English-like word soup for every ``lang``
    label, so the heuristic's ground truth is its own deterministic
    arithmetic — replicated exactly by the oracle. Real profiles slot
    into STOPWORDS without changing the plan shape.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    s = t.select(
        "doc_id",
        F.size("toks").alias("n"),
        *[
            stopword_count(F.col("toks"), STOPWORDS[lang]).alias(f"s_{lang}")
            for lang in _LANGS
        ],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )
    return s.select(
        "doc_id",
        *[
            F.round(F.col(f"s_{lang}") / F.col("n"), 6).alias(f"score_{lang}")
            for lang in _LANGS
        ],
        pred.alias("lang_pred"),
    )


@query(
    "text_tfidf_top_term",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_ORACLE_TOKS}) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, w AS top_term, tfidf
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
        FROM scored
    )
    WHERE rn = 1
    """,
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per doc x inverse document frequency
    across the corpus; emit each doc's highest-scoring term. Two
    aggregates + a broadcast-able DF table — the classic two-pass
    text-statistics shape (the DF side is vocabulary-sized, tiny
    relative to the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    # lazy cut: the token rows feed the TF aggregate AND the DF
    # build — uncut, each re-scanned and re-tokenized the corpus
    # (guide §1.2; one corpus pass instead of two)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).localCheckpoint(eager=False)
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df), "w").select(
        "doc_id",
        "w",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("w").alias("top_term"), "tfidf")
    )


@query(
    "text_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, w, pos FROM (
            SELECT doc_id, unnest({_ORACLE_TOKS}) AS w,
                   generate_subscripts({_ORACLE_TOKS}, 1) AS pos
            FROM documents
        )
    ),
    bigrams AS (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    freq AS (SELECT w1, w2, count(*) AS c FROM bigrams GROUP BY 1, 2),
    uni AS (SELECT w1, count(*) AS cu FROM bigrams GROUP BY 1),
    scored AS (
        SELECT bg.doc_id,
               ln(f.c * 1.0 / u.cu) AS logp
        FROM bigrams bg
        JOIN freq f USING (w1, w2)
        JOIN uni u USING (w1)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(logp), 4) AS avg_logprob
    FROM scored
    GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model score: P(w2|w1) estimated from the
    corpus itself, each document scored by its mean bigram log
    probability — the classic fluency/quality signal (low = unusual
    token sequences). Two corpus-statistics aggregates (bigram and
    unigram-context counts, both broadcastable vocabulary-sized
    tables) + one scoring join; same two-pass shape as TF-IDF."""
    docs = load_table(spark, sf_dir, "documents")
    # bigrams are DOC-LOCAL: adjacent token pairs come straight off
    # the token array (guarded so <2-token docs yield none — sequence
    # counts DOWN on negative spans). The previous shape exploded
    # every token and ran a lead() WINDOW over (doc_id, pos) — a full
    # shuffle + sort of the token table just to pair neighbors the
    # array already has adjacent (guide §2.4 remove shuffles
    # outright). One lazy cut shares the pair rows across the two
    # count aggregates and the scoring probe (3 corpus scans -> 1).
    bigrams = (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i - 1] AS w1, t[i] AS w2)) "
                    "ELSE array() END"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
        .localCheckpoint(eager=False)
    )
    freq = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    scored = (
        bigrams.join(F.broadcast(freq), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .select("doc_id", F.log(F.col("c") / F.col("cu")).alias("logp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_ORACLE_NORM} AS norm,
               {_ORACLE_TOKS} AS toks
        FROM documents
    ), sh AS (
        SELECT doc_id, norm,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END AS shingles
        FROM t
    )
    SELECT doc_id,
           md5(norm) AS fp_exact,
           list_aggregate(list_transform(shingles, s -> md5('0|' || s)), 'min') AS fp_min_shingle
    FROM sh
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (exact
    fingerprint) + lexicographic-min shingle hash (rolling-hash-style
    content fingerprint, stable under small shifts). Pure array
    expressions — array_min(transform(...)) never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("norm"),
        tokens(F.col("text")).alias("_toks"),
    ).select("doc_id", "norm", shingles("_toks").alias("sh"))
    return t.select(
        "doc_id",
        F.md5("norm").alias("fp_exact"),
        F.expr("array_min(transform(sh, s -> md5(concat('0|', s))))").alias(
            "fp_min_shingle"
        ),
    )


@query(
    "text_kl_domain_drift",
    oracle="""
    WITH toks AS (
        SELECT lang,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    lw AS (SELECT lang, w, count(*) AS c FROM toks GROUP BY 1, 2),
    lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM lw GROUP BY 1),
    cw AS (SELECT w, sum(c) AS cc FROM lw GROUP BY 1),
    ct AS (SELECT sum(cc) AS tt FROM cw)
    SELECT lw.lang,
           lt.t AS n_tokens,
           round(sum((lw.c * 1.0 / lt.t)
                     * ln((lw.c * 1.0 / lt.t) / (cw.cc * 1.0 / ct.tt))), 6)
               AS kl_vs_corpus
    FROM lw
    JOIN lt ON lt.lang = lw.lang
    JOIN cw ON cw.w = lw.w
    CROSS JOIN ct
    GROUP BY 1, 2
    """,
)
def text_kl_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-drift monitoring: KL(lang-unigram-dist || corpus-dist)
    per language — the distribution-shift gate a training pipeline
    runs on every ingest batch (a spike means the new slice doesn't
    look like the corpus). KL over the lang's own support is exact (no
    smoothing needed: every lang token exists in the corpus by
    construction). One token explode feeds one (lang, w) aggregate;
    the corpus distribution REUSES that aggregate (second agg keyed w,
    same pre-shuffled relation); per-lang totals and the corpus total
    are broadcast-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    # the (lang, w) aggregate fans out to the per-lang totals, the
    # corpus distribution and the final KL join — the docstring's
    # "reuses that aggregate" was aspirational (Catalyst re-ran the
    # explode + aggregate per consumer: 4 documents scans observed);
    # the lazy cut makes the reuse structural (vocab x lang rows)
    lw = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    lt = lw.groupBy("lang").agg(F.sum("c").alias("t"))
    cw = lw.groupBy("w").agg(F.sum("c").alias("cc"))
    tt = cw.agg(F.sum("cc").alias("tt"))
    p = F.col("c") / F.col("t")
    q = F.col("cc") / F.col("tt")
    return (
        lw.join(F.broadcast(lt), "lang")
        .join(cw, "w")
        .crossJoin(F.broadcast(tt))
        .groupBy("lang", F.col("t").alias("n_tokens"))
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"))
    )


# ------------------------------------------------- feature hashing

FEATHASH_DIM = 32  # bucket count (the hashing-trick vector width)


@query(
    "featurize_hashed_ngrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               {oracle_hash_bucket('w', FEATHASH_DIM)} AS b
        FROM toks
    ),
    counts AS (
        SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        FROM bucketed GROUP BY doc_id, b
    ),
    perdoc AS (
        SELECT doc_id,
               list(struct_pack(b := b, c := CAST(c AS DOUBLE))) AS entries,
               sqrt(sum(CAST(c AS DOUBLE) * c)) AS nrm
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(unnest(range(0, {FEATHASH_DIM})) AS INT) AS dim,
           unnest(list_transform(range(0, {FEATHASH_DIM}),
               i -> round(coalesce(list_sum(list_transform(entries,
                        e -> CASE WHEN struct_extract(e, 'b') = i
                             THEN struct_extract(e, 'c') ELSE 0.0 END)), 0.0)
                    / nrm, 6))) AS weight
    FROM perdoc
    """,
)
def featurize_hashed_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): each document becomes a
    dense L2-normalized FEATHASH_DIM-vector of hashed-token-bucket
    counts — the no-vocabulary featurizer that needs no fitted state,
    no dictionary broadcast, and therefore no scan to build one: the
    ONLY pass over the corpus is the count itself, which is what makes
    it the default text featurizer at 100 TB (vocabulary approaches
    need a fit pass plus a driver-sized vocab). Bucket = md5-prefix
    mod DIM for cross-engine parity (production would use xxhash64 —
    bucket membership is hash-DEPENDENT, so unlike repeated-spans
    there is no bit-identical twin, just a differently-hashed but
    equally-valid feature space). Plan: token explode -> one (doc,
    bucket) count agg -> per-doc densify via a doc-local array
    expression, emitted long-form (doc_id, dim, weight) per the
    registry's scalar-columns-only output convention."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    bucket = hash_bucket("w", FEATHASH_DIM)
    counts = toks.groupBy("doc_id", bucket.alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    sparse = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("c").cast("double")))
        ).alias("m"),
        F.sqrt(F.sum(F.col("c").cast("double") * F.col("c"))).alias("nrm"),
    )
    dense = F.expr(
        f"transform(sequence(0, {FEATHASH_DIM - 1}),"
        f" i -> round(coalesce(m[i], 0.0D) / nrm, 6))"
    )
    return sparse.select(
        "doc_id", F.posexplode(dense).alias("dim", "weight")
    )


# --------------------------------------------- sliding-window chunking

# RAG/pretraining-style document chunker: fixed CHUNK_TOKENS windows
# every CHUNK_STRIDE tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE),
# last window may be short. Pure array expressions — the chunk starts
# come from `sequence`, the slices from `slice`, the fingerprint from
# md5 of the re-joined words; no UDF, no shuffle before the explode.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48

# The sliding-chunk CTE prefix (documents -> per-chunk start/len/fp
# ingredients), shared by the chunker oracle and the composed RAG
# pipeline oracle so the two cannot drift (the GATE_ORACLE_CTES
# anti-drift pattern, text_filters.py; review r5 round 2 #5).
CHUNK_ORACLE_CTES = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start_tok,
               toks
        FROM t
    )
"""


@query(
    "text_chunk_sliding_tokens",
    oracle=CHUNK_ORACLE_CTES
    + f"""
    SELECT doc_id,
           CAST(start_tok / {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start_tok AS INT) AS start_tok,
           CAST(least({CHUNK_TOKENS}, len(toks) - start_tok) AS INT)
               AS chunk_len,
           md5(array_to_string(
               toks[start_tok + 1 : start_tok + {CHUNK_TOKENS}], ' '))
               AS chunk_fp
    FROM c
    """,
)
def text_chunk_sliding_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking: every document becomes
    ceil(n_tokens / CHUNK_STRIDE) overlapping CHUNK_TOKENS-token
    chunks (stride CHUNK_STRIDE), each with its position and a content
    fingerprint — the chunk table a retrieval index or a
    fixed-context pretraining run consumes. The fingerprint feeds
    straight into the dedup family (chunk-level exact dedup is this
    plus dedup_exact's aggregate).

    100-TB shape: chunking is a narrow per-doc expression (sequence ->
    slice -> md5) followed by one explode — no shuffle at all; the
    output inherits the input partitioning, and downstream chunk-level
    ops shuffle on the uniform chunk_fp. Long documents fan out
    linearly in their token count (bounded by the corpus's max-doc
    contract), never quadratically."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    c = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(f"sequence(0, size(toks) - 1, {CHUNK_STRIDE})")
        ).alias("start_tok"),
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, CHUNK_TOKENS)
    return c.select(
        "doc_id",
        (F.col("start_tok") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.size("toks") - F.col("start_tok"))
        .cast("int")
        .alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


# ------------------------------------------------- BPE pair statistics

# The statistics pass of one BPE merge iteration (Sennrich et al.):
# count adjacent symbol pairs across the corpus, weighted by word
# frequency — the argmax pair is the next merge rule. Words aggregate
# FIRST (the vocabulary is orders of magnitude smaller than the
# corpus), then each distinct word explodes its character pairs
# weighted by its count: the explode cost scales with |vocab| x
# word_len, not corpus tokens.
BPE_TOP_PAIRS = 30


@query(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH words AS (
        SELECT w, count(*) AS wc FROM (
            SELECT unnest(string_split(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
            FROM documents
        ) GROUP BY 1
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> w[i] || w[i + 1])) AS pair,
               wc
        FROM words
        WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_cnt
    FROM pairs
    GROUP BY 1
    ORDER BY pair_cnt DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """,
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics (the counting pass of one BPE
    vocabulary-training iteration): frequency of every adjacent
    character pair across the corpus, weighted by word frequency; the
    top pair is the next merge rule. Top-BPE_TOP_PAIRS returned
    (count desc, pair asc — deterministic).

    100-TB shape: the corpus collapses to its VOCABULARY first (one
    word-count aggregate on a uniform key — at web scale ~10^7 words
    vs 10^12 tokens), and pair extraction explodes distinct words
    only, weighted by their counts. The final global top-k is the
    standard partial-top-k-then-single-reduce shape (the k*partitions
    rows that reach the driver-side limit are bounded). Iterating BPE
    re-runs this with merged symbols — each iteration the same two
    aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("pair_cnt"))
        .orderBy(F.desc("pair_cnt"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# --------------------------------------------- PMI word association

# Pointwise mutual information over a skip-2 co-occurrence window:
# the corpus-linguistics association miner (collocations, multi-word
# expressions) — high-PMI pairs co-occur far above chance. Ordered
# pairs, window j in {1, 2}; rare pairs (c_xy < PMI_MIN_PAIR) are
# floored out before ranking, the standard PMI noise guard.
PMI_WINDOW = 2
PMI_MIN_PAIR = 5
PMI_TOP = 30


@query(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, count(*) AS cx FROM (SELECT unnest(toks) AS w FROM t)
        GROUP BY 1
    ),
    n AS (SELECT sum(cx) AS n_tok FROM uni),
    pairs AS (
        SELECT x, y, count(*) AS cxy FROM (
            SELECT unnest(list_concat(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                                   i -> {{'x': toks[i], 'y': toks[i + 1]}})
                ELSE [] END,
                CASE WHEN len(toks) >= 3 THEN
                    list_transform(range(1, len(toks) - 1),
                                   i -> {{'x': toks[i], 'y': toks[i + 2]}})
                ELSE [] END), recursive := true)
            FROM t
        )
        GROUP BY 1, 2
    ),
    p AS (SELECT sum(cxy) AS n_pair FROM pairs)
    SELECT x, y,
           CAST(cxy AS BIGINT) AS cxy,
           round(ln(CAST(cxy AS DOUBLE)) + 2.0 * ln(CAST(n_tok AS DOUBLE))
                 - ln(CAST(n_pair AS DOUBLE)) - ln(CAST(ux.cx AS DOUBLE))
                 - ln(CAST(uy.cx AS DOUBLE)), 6)
               AS pmi
    FROM pairs
    JOIN uni ux ON ux.w = pairs.x
    JOIN uni uy ON uy.w = pairs.y
    CROSS JOIN n CROSS JOIN p
    WHERE cxy >= {PMI_MIN_PAIR}
    ORDER BY pmi DESC, x, y
    LIMIT {PMI_TOP}
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: ordered word
    pairs within a skip-{PMI_WINDOW} window, PMI =
    ln(P(x,y) / (P(x)P(y))) computed from exact integer counts,
    evaluated in LOG SPACE on both engines — ln(cxy) + 2 ln(n_tok) -
    ln(n_pair) - ln(ux) - ln(uy), same term order (ADVICE r5 #3: the
    earlier cxy * n_tok^2 int64 product overflows under ANSI mode
    once the corpus passes ~3e9 tokens, while DuckDB's HUGEINT
    silently survives — so at scale the engines also diverged; each
    count is exact as a double below 2^53, far above any real corpus'
    vocabulary/pair counts, and the identical expression tree makes
    the rounded doubles bit-equal).

    100-TB shape: pair extraction is a doc-local array transform +
    one explode (no self-join on positions); the pair aggregate keys
    on the uniform (x, y) pair; unigram counts are a vocabulary-sized
    relation joined back on each side (broadcast here; at web scale
    an equi-join on the word key — same plan as TF-IDF's DF join).
    The corpus totals are one-row broadcasts. The PMI_MIN_PAIR floor
    caps the ranked space the way every collocation miner does."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens(F.col("text")).alias("toks"))
    pair_expr = """
        concat(
          CASE WHEN size(toks) >= 2 THEN
            transform(sequence(0, size(toks) - 2),
                      i -> struct(toks[i] AS x, toks[i + 1] AS y))
          ELSE array() END,
          CASE WHEN size(toks) >= 3 THEN
            transform(sequence(0, size(toks) - 3),
                      i -> struct(toks[i] AS x, toks[i + 2] AS y))
          ELSE array() END)
    """
    # NOT lineage-cut (tried and REVERTED this round): checkpointing
    # the pair and/or vocab aggregates reads as "5 corpus scans -> 2"
    # in the static plan, but the five subtrees evaluate as PARALLEL
    # jobs (four are broadcast builds) while a lazy checkpoint
    # serializes them behind one materialization — focused 5-round
    # A/B measured the cut versions +37..50% WALL on this host.
    # The repeated work is real at the byte level but wall-optimal
    # here; revisit only if broadcast-build parallelism disappears.
    pairs = (
        t.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    uni = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    n_tok = uni.agg(F.sum("cx").alias("n_tok"))
    n_pair = pairs.agg(F.sum("cxy").alias("n_pair"))
    ux = uni.select(F.col("w").alias("x"), F.col("cx").alias("ux"))
    uy = uni.select(F.col("w").alias("y"), F.col("cx").alias("uy"))
    scored = (
        pairs.filter(F.col("cxy") >= PMI_MIN_PAIR)
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
        .select(
            "x",
            "y",
            "cxy",
            F.round(
                F.log(F.col("cxy").cast("double"))
                + F.lit(2.0) * F.log(F.col("n_tok").cast("double"))
                - F.log(F.col("n_pair").cast("double"))
                - F.log(F.col("ux").cast("double"))
                - F.log(F.col("uy").cast("double")),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "x", "y").limit(PMI_TOP)


# ------------------------------------- composed RAG chunk-dedup plan

CHUNK_MIN_TOKENS = 16  # tail fragments below this are not index-worthy


@query(
    "pipeline_rag_chunk_dedup",
    oracle=CHUNK_ORACLE_CTES
    + f""",
    f AS (
        SELECT doc_id,
               CAST(start_tok / {CHUNK_STRIDE} AS INT) AS chunk_idx,
               CAST(least({CHUNK_TOKENS}, len(toks) - start_tok) AS INT)
                   AS chunk_len,
               md5(array_to_string(
                   toks[start_tok + 1 : start_tok + {CHUNK_TOKENS}], ' '))
                   AS chunk_fp
        FROM c
        WHERE least({CHUNK_TOKENS}, len(toks) - start_tok) >= {CHUNK_MIN_TOKENS}
    )
    SELECT doc_id, chunk_idx, chunk_fp,
           CAST(count(*) OVER (PARTITION BY chunk_fp) AS BIGINT) AS n_copies,
           row_number() OVER (
               PARTITION BY chunk_fp ORDER BY doc_id, chunk_idx) = 1
               AS is_canonical
    FROM f
    """,
)
def pipeline_rag_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-ingestion pipeline composed in ONE plan: sliding-window
    chunking (reusing the registered chunker's frame — composition of
    query fns, not copy-paste), a minimum-length gate on tail
    fragments, and CHUNK-level exact dedup (first occurrence by
    (doc_id, chunk_idx) is canonical; n_copies rides along for
    corpus-health reporting). A retrieval index built from the
    ``is_canonical`` rows never embeds the same passage twice — the
    chunk-granular twin of ``dedup_exact``, catching duplicated
    passages that document-level dedup cannot see (the corpus has
    real ones: shared boilerplate-aligned windows).

    100-TB shape: the chunker contributes ZERO shuffles (plan-pinned
    in test_plan_hygiene); this composition adds exactly ONE — the
    window on the uniform 128-bit chunk fingerprint. Gate before
    shuffle: the length filter runs in the narrow stage, so fragment
    rows never enter the exchange."""
    chunks = text_chunk_sliding_tokens(spark, sf_dir).filter(
        F.col("chunk_len") >= CHUNK_MIN_TOKENS
    )
    w = Window.partitionBy("chunk_fp")
    wo = w.orderBy("doc_id", "chunk_idx")
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "chunk_fp",
        F.count(F.lit(1)).over(w).alias("n_copies"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


# ----------------------------------------------- Zipf rank-frequency

ZIPF_MAX_RANK = 1000  # fit over the top-K vocabulary slice (bounded window)


def _log_moments(r: DataFrame) -> DataFrame:
    """The ``n, sx, sy, sxx, sxy, syy`` moment sums of the (x, y)
    log-log points in ``r``, summed in decimal(28,12) so that the
    accumulation order cannot move a double (ols_fit's input)."""
    dec = "decimal(28,12)"
    return r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1
    ),
    top AS (
        SELECT w, cnt FROM uni ORDER BY cnt DESC, w ASC LIMIT {ZIPF_MAX_RANK}
    ),
    r AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, w ASC)
                       AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM top
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS DECIMAL(28,12))) AS sx,
               sum(CAST(y AS DECIMAL(28,12))) AS sy,
               sum(CAST(x * x AS DECIMAL(28,12))) AS sxx,
               sum(CAST(x * y AS DECIMAL(28,12))) AS sxy,
               sum(CAST(y * y AS DECIMAL(28,12))) AS syy
        FROM r
    ),
    d AS (
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE) AS num,
               CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
               CAST(n * syy - sy * sy AS DOUBLE) AS deny,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        FROM s
    )
    SELECT n AS n_ranks,
           round(num / nullif(denx, 0), 6) AS slope,
           round((syd - num / nullif(denx, 0) * sxd) / n, 6) AS intercept,
           round(num * num / nullif(denx * deny, 0), 6) AS r2
    FROM d
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: log-log
    linear regression of word frequency against rank over the top
    ZIPF_MAX_RANK vocabulary slice — the corpus-health diagnostic
    (natural text fits slope ≈ -1 with high r²; template/boilerplate
    corpora and synthetic-token floods bend the curve, so the slope
    and r² are cheap drift alarms for a training-data pipeline — and
    the alarm demonstrably FIRES here: the synthetic word-soup corpus
    reports slope ≈ -0.18, r² ≈ 0.06 at sf0.01, exactly the
    "this is not natural text" signal the diagnostic exists for).

    Composition of proven pieces: the shared tokenizer (one explode +
    vocabulary hash aggregate — corpus-scale), a top-K on the
    vocabulary (TakeOrderedAndProject — never a full vocab sort), a
    rank window over K <= {ZIPF_MAX_RANK} rows (bounded, the
    curriculum-phase-window discipline), and the closed-form
    linear-fit moment sums in EXACT DECIMAL over identical
    ln-of-integer doubles on both engines
    (ml_linear_fit_closed_form's determinism contract)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    uni = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = uni.orderBy(F.desc("cnt"), F.asc("w")).limit(ZIPF_MAX_RANK)
    rankw = Window.orderBy(F.desc("cnt"), F.asc("w"))
    r = top.select(
        F.log(F.row_number().over(rankw).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    slope, intercept, r2 = ols_fit()
    return _log_moments(r).select(
        F.col("n").cast("long").alias("n_ranks"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


FLESCH_READABLE = 60.0  # "plain English" threshold on the Flesch scale


@query(
    "text_readability_flesch",
    oracle="""
    WITH d AS (
        SELECT lang, source,
               length(regexp_extract_all(lower(text), '[a-z]+')) AS words,
               greatest(length(regexp_extract_all(text, '[.!?]')), 1)
                   AS sents,
               length(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS sylls
        FROM documents
    ),
    f AS (
        SELECT lang, source,
               CAST(round(206.835 - 1.015 * (words * 1.0 / sents)
                          - 84.6 * (sylls * 1.0 / words), 8)
                    AS DECIMAL(18,8)) AS flesch
        FROM d WHERE words > 0
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(flesch) AS DOUBLE) / count(*), 6) AS avg_flesch,
           round(sum(CASE WHEN flesch >= 60.0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS frac_readable
    FROM f
    GROUP BY lang, source
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per (lang, source) slice (Flesch 1948 —
    public): 206.835 - 1.015*(words/sentences) - 84.6*(syllables/
    words), with the standard cheap proxies — words = lowercase alpha
    runs, sentences = terminal-punctuation count floored at 1,
    syllables = vowel-group runs. The readability axis of corpus
    quality scoring, complementing text_quality_score's length/punct
    ratios (a slice whose Flesch collapses is boilerplate or
    run-on machine text even when its token counts look healthy).
    The synthetic corpus has no sentence punctuation, so every doc is
    one "sentence" and scores are deeply negative — the honest-alarm
    framing of text_zipf_fit again; the regex plumbing is identical
    for natural text.

    Determinism: counts are exact integers from the same regexes on
    both engines (Spark regexp_count == DuckDB
    length(regexp_extract_all)); per-doc scores round(8) to DECIMAL
    before the exact group sum, divided and rounded once.

    100-TB shape: per-doc narrow expressions (regex counting inside
    whole-stage codegen, no explode, no shuffle) into ONE
    map-side-combinable aggregate at slice grain."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source", "text")
    lower = F.lower(F.col("text"))
    words = F.regexp_count(lower, F.lit("[a-z]+"))
    sents = F.greatest(F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1))
    sylls = F.regexp_count(lower, F.lit("[aeiouy]+"))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words * 1.0 / sents)
        - F.lit(84.6) * (sylls * 1.0 / words),
        8,
    ).cast("decimal(18,8)")
    f = docs.filter(words > 0).select("lang", "source", flesch.alias("flesch"))
    return f.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("flesch").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_flesch"
        ),
        F.round(
            F.sum(F.when(F.col("flesch") >= FLESCH_READABLE, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("frac_readable"),
    )


@query(
    "text_heaps_law_fit",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents
    ),
    dt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok FROM t),
    words AS (SELECT doc_id, unnest(toks) AS w FROM t),
    firsts AS (SELECT w, min(doc_id) AS fd FROM words GROUP BY 1),
    newv AS (
        SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv
        FROM firsts GROUP BY 1
    ),
    cum AS (
        SELECT d.doc_id,
               CAST(sum(d.ntok) OVER (ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n,
               CAST(sum(coalesce(v.nv, 0)) OVER (ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS v
        FROM dt d LEFT JOIN newv v ON v.doc_id = d.doc_id
    ),
    r AS (
        SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
        FROM cum WHERE n > 0 AND v > 0
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(x AS DECIMAL(28,12))) AS sx,
               sum(CAST(y AS DECIMAL(28,12))) AS sy,
               sum(CAST(x * x AS DECIMAL(28,12))) AS sxx,
               sum(CAST(x * y AS DECIMAL(28,12))) AS sxy,
               sum(CAST(y * y AS DECIMAL(28,12))) AS syy
        FROM r
    ),
    d AS (
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE) AS num,
               CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
               CAST(n * syy - sy * sy AS DOUBLE) AS deny,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        FROM s
    ),
    tot AS (
        SELECT CAST(max(n) AS BIGINT) AS total_tokens,
               CAST(max(v) AS BIGINT) AS total_vocab
        FROM cum
    )
    SELECT d.n AS n_points,
           round(num / nullif(denx, 0), 6) AS beta,
           round((syd - num / nullif(denx, 0) * sxd) / d.n, 6) AS log_k,
           round(num * num / nullif(denx * deny, 0), 6) AS r2,
           tot.total_tokens, tot.total_vocab
    FROM d CROSS JOIN tot
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (Heaps 1978 — public):
    V(n) ~ K * n^beta over the corpus prefix in doc_id order — the
    companion corpus-health diagnostic to text_zipf_fit (Zipf checks
    the frequency CURVE, Heaps checks whether new text keeps bringing
    new words; natural corpora fit beta ~ 0.4-0.6 with r2 near 1, a
    looping generator saturates its vocabulary and beta collapses).
    Same closed-form log-log least squares and the same
    decimal-exact moment-sum discipline as the Zipf fit.

    100-TB shape: token counts and per-doc first-occurrence counts are
    map-combinable aggregates; the prefix sums run at DOC grain — at
    corpus scale sample log-spaced checkpoint prefixes instead of
    every doc (the fit needs ~dozens of (n, V) points, not millions)
    and the prefix sum becomes the standard two-pass
    per-partition-offsets pattern (stats_mann_whitney's note)."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    t = t.localCheckpoint(eager=False)  # token counts + first-occurrences
    dt = t.select("doc_id", F.size("toks").cast("long").alias("ntok"))
    words = t.select("doc_id", F.explode("toks").alias("w"))
    newv = (
        words.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    wc = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        dt.join(newv, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("ntok").over(wc).alias("n"),
            F.sum(F.coalesce("nv", F.lit(0))).over(wc).alias("v"),
        )
    )
    cum = cum.localCheckpoint(eager=False)  # fit points + totals
    r = cum.filter((F.col("n") > 0) & (F.col("v") > 0)).select(
        F.log(F.col("n").cast("double")).alias("x"),
        F.log(F.col("v").cast("double")).alias("y"),
    )
    tot = cum.agg(
        F.max("n").cast("long").alias("total_tokens"),
        F.max("v").cast("long").alias("total_vocab"),
    )
    beta, log_k, r2 = ols_fit()
    return _log_moments(r).crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_points"),
        beta.alias("beta"),
        log_k.alias("log_k"),
        r2.alias("r2"),
        "total_tokens",
        "total_vocab",
    )


# ------------------------------------------------------------ BM25 search
# The engine's IR gap: text_tfidf_top_term characterizes documents,
# but nothing SCORES documents against a query. BM25 (Robertson's
# Okapi formulation — the default ranking function of every
# production search engine) is the missing primitive: a training-data
# pipeline uses exactly this shape for targeted corpus slicing
# ("pull the top-k docs about X for seed/eval curation").
#
# Spark-first: the query is a bounded literal term list (isin filter
# folded into the token explode — only query-term rows survive the
# explode, so the per-(doc, term) tf aggregate is O(docs x |query|),
# not O(corpus tokens)); df and avgdl are tiny model frames broadcast
# back; top-k is TakeOrderedAndProject. At 100 TB with a standing
# query workload you'd materialize the (term, doc, tf) inverted index
# once (the incremental-MV family) and this query becomes a pure
# index probe — the plan below is the index-BUILD + probe fused.
#
# Determinism: per-term scores round(8) then decimal-sum (<= |query|
# terms per doc — order-independent), final round(6); idf/dl
# arithmetic derives from exact integer counts.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("vector", "stream", "hash")
BM25_TOP = 20

_BM25_TERMS_SQL = sql_in(BM25_QUERY)

_BM25_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf FROM toks
        WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
    ),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT t.doc_id,
               CAST(round(
                   ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
                   * t.tf * ({BM25_K1} + 1)
                   / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)),
               8) AS DECIMAL(28,8)) AS term_score
        FROM tf t
        JOIN df f ON t.w = f.w
        JOIN dl d ON t.doc_id = d.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, round(CAST(sum(term_score) AS DOUBLE), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {BM25_TOP}
"""


@query("text_bm25_search", oracle=_BM25_SQL)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BM25_TOP documents for the literal query BM25_QUERY
    (block comment above)."""
    docs = load_table(spark, sf_dir, "documents")
    # materialized once: the token frame feeds dl AND tf — without
    # the cut both branches re-run the corpus scan+explode (review
    # finding)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w")).localCheckpoint(
        eager=True
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    avgdl = dl.agg((F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    stats = n_docs.crossJoin(avgdl)  # one-row scalar broadcast
    tf = (
        toks.filter(F.col("w").isin(*BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    term_score = F.round(
        F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        8,
    ).cast("decimal(28,8)")
    return (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score").cast("double"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


# ------------------------------------------------------- OOV audit
# Every tokenizer/vocab decision is eventually audited with one
# number: what fraction of fresh text falls OUT of vocabulary. The
# operator derives a top-K frequency vocabulary from the TRAIN half
# of the corpus (even doc_ids — the deterministic split convention)
# and scores the held-out half per document. High-OOV documents are
# the ones a fixed tokenizer will shred into bytes — the standard
# pre-training triage signal next to the quality gates.
#
# Shape: one token-grain count on the train half; the vocabulary is a
# top-K TakeOrderedAndProject (K rows, broadcast); held-out docs pay
# one explode + one broadcast LEFT join + per-doc aggregate. At
# 100 TB the vocab stays K rows regardless of corpus size, so the
# scoring pass is scan-shaped with a model-sized build side.

OOV_VOCAB_K = 400


@query(
    "text_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, count(*) AS c FROM toks
            WHERE doc_id % 2 = 0 GROUP BY w
            ORDER BY c DESC, w ASC LIMIT {OOV_VOCAB_K}
        )
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    WHERE t.doc_id % 2 = 1
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate of the held-out corpus
    half against a train-half top-K vocabulary (block comment
    above)."""
    docs = load_table(spark, sf_dir, "documents")
    # lazy cut: the train-half vocabulary build and the held-out
    # scoring pass are disjoint filters of the SAME token rows —
    # uncut, each re-scanned and re-tokenized the corpus (guide §1.2)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).localCheckpoint(eager=False)
    vocab = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(OOV_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.filter(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )
