"""Round-7 session-4 breadth, part 3: a Z-order (Morton) layout
locality diagnostic — the multi-dimensional clustering technique
behind Delta/Iceberg OPTIMIZE ZORDER, quantified as a query — and
Cohen's kappa agreement between the corpus' language labels and the
registered lang-id heuristic.

The Z-order op is the one place this engine REASONS ABOUT physical
layout as data: at 100 TB the difference between a 1-D sort order and
a Z-order on two filter columns is the number of files a 2-D
selection box touches, and that number is computable exactly from the
key arithmetic — no cluster required to verify the claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

# 8-bit grid per dimension -> 16-bit position keys; 64 keys per
# "block" (the stand-in for a file/row-group at real scale)
_ZBITS = 8
_BLOCK_SHIFT = 6
# the probe selection box, in grid coordinates (a quarter-width
# square: the shape where Z-order beats either major order)
_BOX_X = (64, 96)
_BOX_Y = (32, 64)


def _interleave_sql(cx: str, cy: str) -> str:
    """SQL text for the Morton interleave of two {_ZBITS}-bit ints —
    built once and shared VERBATIM by both engines (DuckDB executes
    it directly; Spark parses the same text via F.expr: >> << & | are
    valid bitwise operators in both dialects)."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({cx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({cy} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "layout_zorder_locality",
    oracle=f"""
    WITH g AS (
        SELECT CAST(o_custkey % 256 AS BIGINT) AS cx,
               CAST(date_diff('day', DATE '1995-01-01', o_orderdate) % 256
                    AS BIGINT) AS cy
        FROM orders
    ),
    keys AS (
        SELECT cx, cy,
               {_interleave_sql('cx', 'cy')} AS z,
               cx * 256 + cy AS xk,
               cy * 256 + cx AS yk
        FROM g
        WHERE cx >= {_BOX_X[0]} AND cx < {_BOX_X[1]}
          AND cy >= {_BOX_Y[0]} AND cy < {_BOX_Y[1]}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_selected,
           CAST(count(DISTINCT z >> {_BLOCK_SHIFT}) AS BIGINT)
               AS blocks_zorder,
           CAST(count(DISTINCT xk >> {_BLOCK_SHIFT}) AS BIGINT)
               AS blocks_custkey_major,
           CAST(count(DISTINCT yk >> {_BLOCK_SHIFT}) AS BIGINT)
               AS blocks_date_major
    FROM keys
    """,
)
def layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many 64-key blocks does a 32x32 2-D selection box touch
    under a Z-order layout vs either single-column major order? The
    Morton interleave maps the (custkey, day) grid cell to a 16-bit
    position key; blocks = position key >> {_BLOCK_SHIFT} stands in
    for files/row-groups. A square box under Z-order touches
    O(area/block) blocks; under either major order it touches one
    RUN PER ROW OF THE BOX — this query outputs those counts side by
    side, which is the entire justification for OPTIMIZE ZORDER on
    two-column filter workloads. The interleave expression is
    generated once and parsed by both engines verbatim (module
    docstring); everything is small-integer arithmetic, exact
    everywhere. One scan, one aggregate."""
    g = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).cast("bigint").alias("cx"),
        (
            F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")) % 256
        )
        .cast("bigint")
        .alias("cy"),
    )
    keys = g.filter(
        (F.col("cx") >= _BOX_X[0])
        & (F.col("cx") < _BOX_X[1])
        & (F.col("cy") >= _BOX_Y[0])
        & (F.col("cy") < _BOX_Y[1])
    ).select(
        F.expr(_interleave_sql("cx", "cy")).alias("z"),
        (F.col("cx") * 256 + F.col("cy")).alias("xk"),
        (F.col("cy") * 256 + F.col("cx")).alias("yk"),
    )
    return keys.agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.count_distinct(
            F.shiftright(F.col("z"), _BLOCK_SHIFT)
        ).alias("blocks_zorder"),
        F.count_distinct(
            F.shiftright(F.col("xk"), _BLOCK_SHIFT)
        ).alias("blocks_custkey_major"),
        F.count_distinct(
            F.shiftright(F.col("yk"), _BLOCK_SHIFT)
        ).alias("blocks_date_major"),
    )


# ------------------------------------------- Cohen's kappa agreement
# Chance-corrected agreement between the corpus' lang labels and the
# registered lang-id heuristic's predictions — the metric a labeling
# pipeline reports when comparing an automatic classifier against
# given labels (plain accuracy rewards majority-class guessing;
# kappa = (po - pe) / (1 - pe) corrects by the marginal-product
# chance rate). Predictions come from the SAME registered operator
# (text.text_lang_id — one implementation, two consumers), the
# confusion marginals are exact integer counts, and kappa is one
# double expression over them. Doc-grain join on doc_id + two tiny
# aggregates.


def _kappa_oracle() -> str:
    """Oracle built from text.py's OWN tokenizer/stopword constants
    (never re-typed — a drifted stopword list would silently change
    predictions on one engine only) plus full-marginal chance
    correction: pe sums row_k * col_k over the UNION of label and
    prediction classes, so a class that never lands on the diagonal
    still contributes its marginal product."""
    from .text import _LANGS, _ORACLE_TOKS
    from ..functions.text import STOPWORDS, sql_in

    scores = ", ".join(
        f"len(list_filter(toks, x -> x IN ({sql_in(STOPWORDS[lang])})))"
        f" AS s_{lang}"
        for lang in _LANGS
    )
    return f"""
    WITH t AS (
        SELECT doc_id, {_ORACLE_TOKS} AS toks, lang FROM documents
    ),
    s AS (SELECT doc_id, lang, {scores} FROM t),
    pred AS (
        SELECT lang AS label,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                        THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM s
    ),
    cm AS (
        SELECT label, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    rows_m AS (SELECT label AS cls, CAST(sum(n) AS BIGINT) AS rn
               FROM cm GROUP BY 1),
    cols_m AS (SELECT lang_pred AS cls, CAST(sum(n) AS BIGINT) AS cn
               FROM cm GROUP BY 1),
    chance AS (
        SELECT CAST(sum(CAST(coalesce(rn, 0) AS DECIMAL(38,0))
                        * coalesce(cn, 0)) AS DECIMAL(38,0)) AS chance_num
        FROM rows_m FULL JOIN cols_m USING (cls)
    ),
    agg AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(sum(CASE WHEN label = lang_pred THEN n ELSE 0 END)
                    AS BIGINT) AS agree
        FROM cm
    )
    SELECT total AS n_docs,
           round(CAST(agree AS DOUBLE) / total, 6) AS po,
           round(CAST(chance_num AS DOUBLE) / total / total, 6) AS pe,
           round((CAST(agree AS DOUBLE) / total
                  - CAST(chance_num AS DOUBLE) / total / total)
                 / (1 - CAST(chance_num AS DOUBLE) / total / total), 6)
               AS kappa
    FROM agg CROSS JOIN chance
    """


@query("ml_cohens_kappa_langid", oracle=_kappa_oracle())
def ml_cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between document lang labels and the lang-id
    heuristic (block comment above)."""
    from .text import text_lang_id

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    cm = (
        docs.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("label"), "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        # class-count confusion grain (<= |langs|^2 rows) fans out to
        # three consumers below — materialize once
        .localCheckpoint(eager=False)
    )
    rows_m = cm.groupBy(F.col("label").alias("cls")).agg(
        F.sum("n").alias("rn")
    )
    cols_m = cm.groupBy(F.col("lang_pred").alias("cls")).agg(
        F.sum("n").alias("cn")
    )
    # FULL marginal product: a class missing from the diagonal still
    # contributes rn * cn to the chance term (matches the oracle)
    chance = (
        rows_m.join(cols_m, "cls", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("rn"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("cn"), F.lit(0))
            )
            .cast("decimal(38,0)")
            .alias("chance_num")
        )
    )
    agg = cm.agg(
        F.sum("n").alias("total"),
        F.sum(
            F.when(F.col("label") == F.col("lang_pred"), F.col("n")).otherwise(0)
        ).alias("agree"),
    )
    j = agg.crossJoin(F.broadcast(chance))  # one-row scalar broadcast
    total = F.col("total")
    po = F.col("agree").cast("double") / total
    pe = F.col("chance_num").cast("double") / total / total
    return j.select(
        total.alias("n_docs"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )
