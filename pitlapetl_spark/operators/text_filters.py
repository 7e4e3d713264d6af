"""Training-data filtering operators over ``documents`` — the
pre-training pipeline's gatekeeper stages (BASELINE.json north star),
modeled on the published filtering recipes (Gopher/C4-style rules,
repetition ratios, PII redaction) and composed into an end-to-end
keep/drop gate.

Shapes: the rule evaluators are pure narrow JVM expressions (one map
stage, no shuffle); repetition ratios aggregate per (doc, n-gram) then
per doc (two shuffles, both keyed on doc_id-prefixed keys — uniform);
the composed gate is dedup's fingerprint window + the rule columns in
ONE plan, so Catalyst shares the scan and the filter runs where the
data lives. All thresholds are deterministic constants replayed by the
DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, norm_text, sql_in, stopword_count, tokens
from ..registry import query
from ..sources import load_table
from .text import quality_score, quality_signals

_ORACLE_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_ORACLE_TOKS = f"string_split({_ORACLE_NORM}, ' ')"
_EN_IN = sql_in(STOPWORDS["en"])

# Gopher-style rule thresholds (arbitrary but fixed; the operator shape
# is the point — real pipelines tune these per corpus)
MIN_TOKENS = 10
MAX_TOKENS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 10.0
MIN_STOP_HITS = 1
MAX_SYMBOL_RATIO = 0.10


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_ORACLE_NORM} AS norm, {_ORACLE_TOKS} AS toks
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mwl,
               len(list_filter(toks, x -> x IN ({_EN_IN}))) AS stop_hits,
               (length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')))
                   * 1.0 / length(norm) AS symbol_ratio
        FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(mwl, 6) AS mean_word_len,
           CAST(stop_hits AS INT) AS stop_hits,
           round(symbol_ratio, 6) AS symbol_ratio,
           (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS})
               AND (mwl BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN})
               AND stop_hits >= {MIN_STOP_HITS}
               AND symbol_ratio <= {MAX_SYMBOL_RATIO} AS keep
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality rules: token-count bounds,
    mean word length bounds, minimum stopword hits, symbol-to-char
    ratio cap — each exposed plus the conjunctive ``keep`` verdict.
    One narrow map stage; at 100 TB this is the cheap first gate that
    runs before anything that shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("norm"),
        tokens(F.col("text")).alias("toks"),
    )
    m = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (
            F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
            / F.size("toks")
        ).alias("mwl"),
        stopword_count(F.col("toks"), STOPWORDS["en"]).alias("stop_hits"),
        (
            (
                F.length("norm")
                - F.length(F.regexp_replace("norm", "[^a-z0-9 ]", ""))
            )
            / F.length("norm")
        ).alias("symbol_ratio"),
    )
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("mwl", 6).alias("mean_word_len"),
        F.col("stop_hits").cast("int").alias("stop_hits"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        (
            F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
            & F.col("mwl").between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
            & (F.col("stop_hits") >= MIN_STOP_HITS)
            & (F.col("symbol_ratio") <= MAX_SYMBOL_RATIO)
        ).alias("keep"),
    )


@query(
    "text_repetition_ratios",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents),
    bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM t WHERE len(toks) >= 2
    ),
    tg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
        FROM t WHERE len(toks) >= 3
    ),
    bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
    b AS (
        SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
        FROM bgc GROUP BY doc_id
    ),
    tr AS (
        SELECT doc_id,
               round(coalesce(sum(c) FILTER (WHERE c >= 2), 0) * 1.0 / sum(c), 6)
                   AS dup_trigram_frac
        FROM tgc GROUP BY doc_id
    )
    SELECT b.doc_id, b.top_bigram_frac, tr.dup_trigram_frac
    FROM b JOIN tr USING (doc_id)
    """,
)
def text_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals from the published filtering recipes: the
    fraction of all bigram occurrences taken by the single most
    frequent bigram, and the fraction of trigram occurrences belonging
    to trigrams that appear at least twice. High values flag looping /
    boilerplate text. Two hash aggregations per n-gram order, keyed on
    (doc_id, gram) then doc_id — uniform keys, map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))

    def grams(n: int) -> DataFrame:
        parts = ", ".join(f"toks[i + {j}]" for j in range(n))
        return t.filter(F.size("toks") >= n).select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {n}), "
                    f"i -> concat_ws(' ', {parts}))"
                )
            ).alias("g"),
        )

    bgc = grams(2).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tgc = grams(3).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    b = bgc.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac")
    )
    tr = tgc.groupBy("doc_id").agg(
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)
            )
            / F.sum("c"),
            6,
        ).alias("dup_trigram_frac")
    )
    return b.join(tr, "doc_id")


# --------------------------------------------------------------- PII scrub
# The synthetic corpus contains no PII, so the operator PLANTS
# deterministic PII into a derived column first (docs where
# doc_id % 7 == 0 get an email + phone appended) and then scrubs it —
# redaction is verified against known ground truth instead of
# vacuously matching zero occurrences on clean text. Patterns stick to
# syntax shared by Java regex (Spark) and RE2 (DuckDB).

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text2
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '{PHONE_RE}')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS scrub_fp,
           NOT regexp_matches(regexp_replace(regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g'), '{EMAIL_RE}') AS is_clean
    FROM planted
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and replace email/phone matches with typed
    placeholder tokens; emit the scrubbed-text fingerprint (md5 keeps
    the verified output compact) and a post-scrub cleanliness check.
    Narrow map stage — regex evaluation inside whole-stage codegen; at
    100 TB this is exactly the shape of the C4/RefinedWeb scrub pass."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("text2", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return planted.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text2, '{EMAIL_RE}', 0))")
        .cast("int")
        .alias("n_emails"),
        F.expr(f"size(regexp_extract_all(text2, '{PHONE_RE}', 0))")
        .cast("int")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrub_fp"),
        (~scrubbed.rlike(EMAIL_RE)).alias("is_clean"),
    )


# ------------------------------------------------- composed pretrain gate

QUALITY_KEEP_THRESHOLD = 0.5

# The scored-gate CTE prefix (documents -> per-doc fingerprint keeper,
# token stats, quality score), shared by `pipeline_pretrain_filter`
# and by training_prep's composed crawl->shards plan so the two
# oracles can never drift from each other.
GATE_ORACLE_CTES = f"""
    WITH t AS (
        SELECT doc_id, lang, {_ORACLE_NORM} AS norm, {_ORACLE_TOKS} AS toks
        FROM documents
    ), m AS (
        SELECT doc_id, lang,
               md5(norm) AS fp,
               len(toks) AS n_tokens,
               len(list_filter(toks, x -> x IN ({_EN_IN}))) AS n_stop,
               length(norm) AS n_chars,
               length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS n_punct,
               len(list_distinct(toks)) AS n_distinct
        FROM t
    ), d AS (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper,
               round(0.25 * least(n_tokens / 100.0, 1.0)
                   + 0.25 * least(n_stop * 5.0 / n_tokens, 1.0)
                   + 0.25 * (1.0 - n_punct * 1.0 / n_chars)
                   + 0.25 * (n_distinct * 1.0 / n_tokens), 6) AS quality_score
        FROM m
    )
"""


def gate_scored(docs: DataFrame) -> DataFrame:
    """The Spark twin of ``GATE_ORACLE_CTES``'s ``d`` relation:
    ``doc_id, lang, n_tokens, keeper, quality_score`` — exact-dedup
    keeper via the fingerprint window plus the heuristic quality
    score, one scan + one window shuffle on the uniform fp key.
    Shared by the gate verdict query and the composed to-shards
    pipeline (training_prep)."""
    # fp is a named column before the window: an md5 inside
    # partitionBy would plan as a separate `_w0` projection
    m = quality_signals(docs, "lang").select(
        "doc_id",
        "lang",
        F.md5("norm").alias("fp"),
        "n_tokens",
        "n_stop",
        "n_chars",
        "n_punct",
        "n_distinct",
    )
    return m.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.min("doc_id").over(Window.partitionBy("fp")).alias("keeper"),
        quality_score(),
    )


@query(
    "pipeline_pretrain_filter",
    oracle=GATE_ORACLE_CTES
    + f"""
    SELECT doc_id,
           doc_id <> keeper AS is_dup,
           quality_score,
           lang = 'en' AS lang_ok,
           (doc_id = keeper) AND quality_score >= {QUALITY_KEEP_THRESHOLD}
               AND lang = 'en' AS keep
    FROM d
    """,
)
def pipeline_pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pre-training gate COMPOSED in one plan: exact
    dedup (md5 fingerprint window — first occurrence wins), the
    heuristic quality score, and a language allowlist, conjoined into
    the final keep/drop verdict with per-stage reasons. One scan, one
    window shuffle on the uniform fingerprint key; the rule columns
    ride along for free. This is the operator a user actually runs
    nightly — the individual stages exist separately for tuning."""
    d = gate_scored(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        (F.col("doc_id") != F.col("keeper")).alias("is_dup"),
        "quality_score",
        (F.col("lang") == "en").alias("lang_ok"),
        (
            (F.col("doc_id") == F.col("keeper"))
            & (F.col("quality_score") >= QUALITY_KEEP_THRESHOLD)
            & (F.col("lang") == "en")
        ).alias("keep"),
    )


def pretrain_filter_observed(spark: SparkSession, sf_dir: str):
    """The composed gate with ONE-PASS pipeline metrics via
    ``df.observe``: gate counters (docs in, duplicates, language
    rejects, docs kept) accumulate inside the same job that produces
    the filtered output — no second scan, no ``count()`` per gate, no
    driver-side loop. At 100 TB a nightly filter that re-counts each
    gate separately reads the corpus five times; this reads it once.

    Returns ``(kept_df, observation)``; read
    ``observation.get`` AFTER an action on ``kept_df``. Not a
    registered query (Observation metrics are job-side state, not a
    result relation) — covered by tests/test_llm_ops.py instead.
    """
    from pyspark.sql import Observation

    gate = pipeline_pretrain_filter(spark, sf_dir)
    obs = Observation("pretrain_gate")
    observed = gate.observe(
        obs,
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
        F.sum((~F.col("lang_ok")).cast("long")).alias("n_lang_fail"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )
    return observed.filter(F.col("keep")), obs


# ------------------------------------------------- boilerplate lines

# C4/RefinedWeb-style boilerplate-line removal: a "line" repeated
# across many documents (nav bars, cookie banners, footers) is site
# boilerplate, not content — drop every line whose document frequency
# crosses a threshold, keep the per-doc remainder in order. The
# synthetic corpus has no newlines, so lines are deterministic
# 10-word chunks, and a 10-word per-source header is planted on every
# page (the same simulated-structure device dedup_exact uses for its
# re-crawl) so real boilerplate exists to remove.
LINE_WORDS = 10
BOILER_MIN_DF = 10
_HEADER9 = "nav menu home about contact copyright terms privacy follow"


@query(
    "text_boilerplate_lines",
    oracle=f"""
    WITH pages AS (
        SELECT doc_id,
               string_split('{_HEADER9} ' || source || ' ' || text, ' ') AS words
        FROM documents
    ),
    la AS (
        SELECT doc_id,
               list_transform(
                   range(0, ((len(words) - 1) // {LINE_WORDS}) + 1),
                   i -> array_to_string(
                       words[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ')
               ) AS lines
        FROM pages
    ),
    lines AS (
        SELECT doc_id,
               unnest(range(0, len(lines))) AS line_no,
               unnest(lines) AS line
        FROM la
    ),
    boiler AS (
        SELECT line FROM lines
        GROUP BY line HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
    ),
    kept AS (
        SELECT l.doc_id, l.line_no, l.line FROM lines l
        WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = l.line)
    ),
    cleaned AS (
        SELECT doc_id,
               string_agg(line, ' ' ORDER BY line_no) AS cleaned,
               CAST(count(*) AS BIGINT) AS n_kept_lines
        FROM kept GROUP BY doc_id
    ),
    total AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        FROM lines GROUP BY doc_id
    )
    SELECT t.doc_id,
           t.n_lines,
           CAST(coalesce(c.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
           CAST(t.n_lines - coalesce(c.n_kept_lines, 0) AS BIGINT) AS n_removed,
           md5(coalesce(c.cleaned, '')) AS cleaned_fp
    FROM total t LEFT JOIN cleaned c USING (doc_id)
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate-line removal (C4 §2.2's "lines
    repeated across pages" rule; /root/reference has no equivalent —
    this is north-star LLM-pipeline surface).

    Plan shape at 100 TB: line construction is a NARROW projection
    (sequence+slice inside codegen — no explode-then-group round trip
    to assemble lines); then (1) one map-side-combinable agg on the
    line string for document frequency, (2) an anti-join of lines
    against the boilerplate set keyed on the line string — uniformly
    distributed, AQE-splittable if a mega-line skews it, (3) one
    groupBy doc_id to reassemble cleaned text in line order. Three
    bounded shuffles, no driver paths, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    lines_arr = F.expr(
        f"transform(sequence(0, (size(words)-1) div {LINE_WORDS}), "
        f"i -> array_join(slice(words, i*{LINE_WORDS}+1, {LINE_WORDS}), ' '))"
    )
    # line assembly lands at the DOC grain and is lineage-cut ONCE:
    # the exploded line view feeds three consumers (DF aggregate,
    # anti-join probe, per-doc totals) and each used to re-scan the
    # parquet and re-run the split + slice/join transform (guide
    # §1.2); the per-doc line COUNT is the array size, no exploded
    # aggregate needed
    la = (
        docs.select(
            "doc_id",
            F.split(
                F.concat(
                    F.lit(_HEADER9 + " "), F.col("source"), F.lit(" "), F.col("text")
                ),
                " ",
            ).alias("words"),
        )
        .select("doc_id", lines_arr.alias("lines"))
        .localCheckpoint(eager=False)
    )
    lines = la.select(
        "doc_id", F.posexplode("lines").alias("line_no", "line")
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= BOILER_MIN_DF)
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(line_no, line))),"
            " s -> s.line), ' ')"
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_kept_lines"),
    )
    total = la.select(
        "doc_id", F.size("lines").cast("long").alias("n_lines")
    )
    return total.join(cleaned, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept_lines", F.lit(0)).alias("n_kept_lines"),
        (F.col("n_lines") - F.coalesce("n_kept_lines", F.lit(0))).alias("n_removed"),
        F.md5(F.coalesce("cleaned", F.lit(""))).alias("cleaned_fp"),
    )
