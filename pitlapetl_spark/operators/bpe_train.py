"""Declarative BPE training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public) as a single
Spark plan: N merge rounds, each one pick-the-most-frequent-adjacent-
symbol-pair and apply it corpus-wide, with NO driver-side loop state —
each round's winning pair is a one-row broadcast scalar, exactly the
convergence-fingerprint discipline of kmeans/pagerank.

text.py's ``text_bpe_pair_stats`` counts ONE round of pairs; this is
the actual TRAINER producing the ordered merge table a tokenizer
ships. The decisive design points:

- **Word-type grain.** Merges operate on the DISTINCT-word table
  weighted by frequency (the standard BPE optimization): at any
  corpus scale the iteration state is vocabulary-sized, not
  corpus-sized — the 100-TB property. The corpus is touched once, to
  count word types.
- **Self-pair merges (a, a) are excluded** when picking each round's
  winner. With a != b, two matches can never overlap (a match at
  position p+1 would force sym[p+1] = a AND sym[p+1] = b), so
  "apply the merge" is a plain per-position window decision — no
  greedy left-to-right parity state. This is a DOCUMENTED variant of
  textbook BPE (which must arbitrate overlapping self-pair runs);
  the exclusion trades a rarely-optimal merge class for a fully
  relational, engine-exact apply step.
- **Non-overlap makes the apply two windows**: hit(p) = (s[p], s[p+1])
  equals the winner; drop row p+1 where hit(p); concatenate at p.
- **The symbol table is the round state of the shared ``fixpoint``
  driver**, cut once per round, and the DuckDB oracle pins each
  round's relation with AS MATERIALIZED — the k-core re-inlining
  lesson (SCALE.md): each round is referenced more than once and
  would otherwise re-expand exponentially.

Determinism: everything is integer counts and string equality; the
winner is total-ordered by (count DESC, left ASC, right ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .fixpoint import fixpoint

BPE_MERGES = 8


def _oracle_bpe_prefix() -> str:
    """The shared CTE chain (word types, s0, all merge rounds) both
    the trainer oracle and the encoder oracle build on."""
    its = ""
    for k in range(1, BPE_MERGES + 1):
        prev = f"s{k - 1}"
        its += f""",
    p{k} AS MATERIALIZED (
        SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
            SELECT w, freq, s AS a,
                   lead(s) OVER (PARTITION BY w ORDER BY pos) AS b
            FROM {prev}
        )
        WHERE b IS NOT NULL AND a <> b
        GROUP BY 1, 2
    ),
    b{k} AS MATERIALIZED (
        SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    h{k} AS (
        SELECT w, freq, pos, s,
               (s = (SELECT a FROM b{k})
                AND lead(s) OVER (PARTITION BY w ORDER BY pos)
                    = (SELECT b FROM b{k})) AS hit
        FROM {prev}
    ),
    m{k} AS MATERIALIZED (
        SELECT w, freq, pos, s, hit,
               lag(hit) OVER (PARTITION BY w ORDER BY pos) AS prev_hit
        FROM h{k}
    ),
    s{k} AS MATERIALIZED (
        SELECT w, freq,
               CAST(row_number() OVER (PARTITION BY w ORDER BY pos) - 1
                    AS INT) AS pos,
               CASE WHEN coalesce(hit, false)
                    THEN s || (SELECT b FROM b{k}) ELSE s END AS s
        FROM m{k}
        WHERE NOT coalesce(prev_hit, false)
    )"""
    return f"""
    WITH wt AS (
        SELECT word AS w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0
        GROUP BY 1
    ),
    s0 AS MATERIALIZED (
        SELECT wt.w, wt.freq, CAST(i - 1 AS INT) AS pos, wt.w[i] AS s
        FROM wt, LATERAL unnest(generate_series(1, length(wt.w))) AS t(i)
    ){its}"""


def _oracle_bpe() -> str:
    finals = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS left_sym, b AS right_sym, cnt AS pair_freq FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"""{_oracle_bpe_prefix()}
    SELECT CAST(merge_rank AS INT) AS merge_rank, left_sym, right_sym,
           pair_freq
    FROM ({finals})
    ORDER BY merge_rank
    """


def _oracle_bpe_encode() -> str:
    return f"""{_oracle_bpe_prefix()}
    SELECT w AS word, freq,
           CAST(count(*) AS BIGINT) AS n_syms,
           string_agg(s, '|' ORDER BY pos) AS encoded
    FROM s{BPE_MERGES}
    GROUP BY 1, 2
    """


def _run_merges(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """The shared {BPE_MERGES}-round merge loop: returns the per-round
    winner frames AND the final symbol table — the trainer unions the
    former, the encoder aggregates the latter. One body, two queries,
    so the two oracles can never drift from a fork of the loop."""
    docs = load_table(spark, sf_dir, "documents")
    wt = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy(F.col("word").alias("w"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = wt.select(
        "w", "freq", F.posexplode(F.split("w", "")).alias("pos", "s")
    ).filter(F.col("s") != "")

    wseq = Window.partitionBy("w").orderBy("pos")
    merges = []

    def merge(syms: DataFrame) -> DataFrame:
        pairs = (
            syms.select(
                "freq",
                F.col("s").alias("a"),
                F.lead("s").over(wseq).alias("b"),
            )
            .filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .localCheckpoint()  # eager: its 3 readers would each redo the count
        )
        merges.append(
            best.select(
                F.lit(len(merges) + 1).cast("int").alias("merge_rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("cnt").alias("pair_freq"),
            )
        )
        hit = (F.col("s") == F.col("ba")) & (F.lead("s").over(wseq) == F.col("bb"))
        hframe = (
            syms.crossJoin(  # one-row winner broadcast (scalar discipline)
                F.broadcast(
                    best.select(
                        F.col("a").alias("ba"), F.col("b").alias("bb")
                    )
                )
            )
            .select("w", "freq", "pos", "s", "bb", hit.alias("hit"))
        )
        marked = hframe.withColumn("prev_hit", F.lag("hit").over(wseq))
        return (
            marked.filter(~F.coalesce(F.col("prev_hit"), F.lit(False)))
            .select(
                "w",
                "freq",
                (F.row_number().over(wseq) - 1).cast("int").alias("pos"),
                F.when(
                    F.coalesce(F.col("hit"), F.lit(False)),
                    F.concat(F.col("s"), F.col("bb")),
                )
                .otherwise(F.col("s"))
                .alias("s"),
            )
        )

    syms, _ = fixpoint(syms, merge, BPE_MERGES)
    return merges, syms


@query("text_bpe_train_merges", oracle=_oracle_bpe())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES} BPE merges over the documents corpus and
    return the ordered merge table (merge_rank, left_sym, right_sym,
    pair_freq) — module docstring for the design."""
    merges, _ = _run_merges(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


@query("text_bpe_encode", oracle=_oracle_bpe_encode())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's other half: ENCODE every distinct word with the
    trained merges — the final symbol table the merge loop leaves
    behind, aggregated to (word, freq, n_syms, encoded). Stays on the
    word-TYPE grain (the trainer's 100-TB property): encoding a
    corpus is then one broadcast join of this bounded vocabulary
    table against the fact — the per-document segmentation never
    re-runs the merge loop. Ordered segmentation is rebuilt
    deterministically from (pos, s) structs; freq rides along so
    token-count audits (sum(freq * n_syms)) need no second scan."""
    _, syms = _run_merges(spark, sf_dir)
    seg = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("s")))
            ),
            lambda x: x["s"],
        ),
        "|",
    )
    return syms.groupBy(F.col("w").alias("word"), "freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_syms"),
        seg.alias("encoded"),
    )
