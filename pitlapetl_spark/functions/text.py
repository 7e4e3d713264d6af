"""Shared text primitives for the LLM-data-pipeline operators
(dedup / text analysis — SURVEY.md §7.2 M5, BASELINE.json north star).

Everything here is a *narrow* transformation built from JVM-side array
expressions — tokenization and shingling never shuffle, never leave
whole-stage codegen, and never call Python per row. At 100 TB the
shingle set is materialized per-partition and flows straight into the
downstream hash (minhash agg) or inverted-index join.

Cross-engine determinism: hash-family values are md5 hex strings
(Spark ``md5`` == DuckDB ``md5``), compared/min-ed lexicographically,
so every approximate operator (minhash, simhash, LSH) can be replayed
exactly by the DuckDB oracle. At production scale you would swap md5
for ``xxhash64`` (cheaper); the operator shape is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHINGLE_K = 3  # word n-gram width for fingerprinting / minhash

# tiny deterministic stopword profiles (language-ID heuristic)
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "los", "un", "por"),
    "fr": ("le", "la", "de", "et", "est", "les", "un", "pour"),
}


def norm_text(c: Column) -> Column:
    """Normalize: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(norm_text(c), " ")


def shingles_sql(tok_col: str, k: int = SHINGLE_K) -> str:
    """Spark-SQL expression string for the distinct word k-gram
    shingle array of a token-array column — composable inside larger
    expressions (e.g. the no-shuffle minhash signature)."""
    parts = ", ".join(f"{tok_col}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN size({tok_col}) >= {k} THEN "
        f"array_distinct(transform(sequence(0, size({tok_col}) - {k}), "
        f"i -> concat_ws(' ', {parts}))) ELSE array() END"
    )


def shingles(tok_col: str, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles from a token-array column.

    Pure array expression (``transform`` over ``sequence``) — no
    explode/shuffle; guarded so short documents yield an empty array
    (``sequence`` would count *down* for negative spans otherwise).
    """
    return F.expr(shingles_sql(tok_col, k))


def shingle_rows(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) rows — the inverted-index layout used by the
    jaccard join and the minhash aggregation."""
    return (
        df.select(id_col, tokens(F.col(text_col)).alias("_toks"))
        .select(id_col, F.explode(shingles("_toks")).alias("s"))
    )


def oracle_shingles_cte(k: int = SHINGLE_K, src: str = "documents") -> str:
    """DuckDB CTE body producing the same (doc_id, s) shingle rows from
    ``src`` (a table or prior CTE with doc_id + text columns) —
    1-based list indexing, same guard semantics."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= {k}
             THEN list_transform(range(1, len(toks) - {k - 2}), i -> {parts})
             ELSE [] END)) AS s
    FROM (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
          FROM {src})
    """


def sql_in(words: tuple[str, ...]) -> str:
    """``'a', 'b', ...``: the quoted SQL in-list of ``words``."""
    return ", ".join(f"'{w}'" for w in words)


def stopword_count(tok_col: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in ``words`` — higher-order ``filter``, JVM-side."""
    return F.size(F.filter(tok_col, lambda x: x.isin(*words)))


# ------------------------------------------------------------- minhash
# Universal-hash family over ONE md5 per shingle: the digest's two
# 60-bit halves b1, b2 seed h_j(s) = (a_j*b1 + b_j*b2 + c_j) mod P.
# This replaces the earlier md5-per-hash family (16 md5+concat per
# shingle row -> 1), the standard "one strong hash, k affine
# combinations" minhash construction. All arithmetic stays under 2^48
# (a,b < 2^16, b1,b2 reduced mod P < 2^31), exact in BIGINT on both
# engines; P is the Mersenne prime 2^31-1.

MINHASH_P = 2_147_483_647


def _coef(j: int, salt: int) -> int:
    return (1_000_003 * (j + salt)) % 65_521 + 1


MINHASH_A = tuple(_coef(j, 1) for j in range(64))
MINHASH_B = tuple(_coef(j, 7) for j in range(64))
MINHASH_C = tuple((2_654_435_761 * (j + 1)) % MINHASH_P for j in range(64))


def minhash_base_cols(s: Column) -> list[Column]:
    """The two P-reduced 60-bit halves of md5(s) — computed once per
    shingle row; codegen's subexpression elimination shares the single
    md5 between them."""
    return [
        (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_P).alias("b1"),
        (F.conv(F.substring(F.md5(s), 16, 15), 16, 10).cast("long") % MINHASH_P).alias("b2"),
    ]


def oracle_minhash_base_sql(s: str = "s") -> str:
    """DuckDB fragment producing the same b1/b2 columns."""
    return (
        f"CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT) % {MINHASH_P} AS b1, "
        f"CAST('0x' || substr(md5({s}), 16, 15) AS BIGINT) % {MINHASH_P} AS b2"
    )


def minhash_cols(n_hashes: int = 16) -> list[Column]:
    """Minhash signature as ``n_hashes`` numeric min-aggregations over
    the affine family above; expects ``b1``/``b2`` columns
    (``minhash_base_cols``). One shuffle (the groupBy), map-side
    partial min."""
    return [
        F.min(
            (
                F.lit(MINHASH_A[j]) * F.col("b1")
                + F.lit(MINHASH_B[j]) * F.col("b2")
                + F.lit(MINHASH_C[j])
            )
            % MINHASH_P
        ).alias(f"h{j}")
        for j in range(n_hashes)
    ]


def oracle_minhash_sig_cols(n_hashes: int = 16) -> str:
    """DuckDB fragment with the identical ``n_hashes`` min-aggregations."""
    return ", ".join(
        f"min(({MINHASH_A[j]} * b1 + {MINHASH_B[j]} * b2 + {MINHASH_C[j]})"
        f" % {MINHASH_P}) AS h{j}"
        for j in range(n_hashes)
    )


def hash_bucket(col: Column | str, dim: int) -> Column:
    """Hashing-trick bucket: md5-prefix mod ``dim`` (int). The ONE
    definition shared by every hashed-feature operator (featurizer,
    DSIR) so the Spark expression and its DuckDB twin
    (``oracle_hash_bucket``) evolve in lockstep — a production swap
    to xxhash64 changes exactly this pair."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % dim).cast(
        "int"
    )


def oracle_hash_bucket(expr: str, dim: int) -> str:
    """DuckDB twin of ``hash_bucket`` over a SQL expression string."""
    return f"CAST(CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT) % {dim} AS INT)"
