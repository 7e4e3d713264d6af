"""Semantic invariants for the LLM-data-pipeline operators (dedup /
similarity / text) that the value-hash oracle can't express:
approximation quality and bounded-range contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pitlapetl_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()
Q = registry.QUERIES


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_minhash_lsh_recall_equals_exact(spark):
    """On this corpus the LSH candidate set must retain every true
    near-dup pair: verified output == exact inverted-index output."""
    exact = _pairs(Q["dedup_ngram_jaccard"](spark, SF_SMOKE))
    lsh = _pairs(Q["dedup_minhash_lsh"](spark, SF_SMOKE))
    assert lsh == exact
    assert exact, "corpus should contain planted near-dup pairs"


def test_exact_dedup_collapses_recrawl(spark):
    """Union-with-copy crawl: every fingerprint group has exactly the
    original + its copy, keeper is the original id."""
    out = Q["dedup_exact"](spark, SF_SMOKE)
    bad = out.filter(
        (F.col("n_copies") != 2) | (F.col("keeper_doc_id") >= 1000000)
    ).count()
    assert bad == 0


def test_bruteforce_dominates_lsh(spark):
    """Exact top-1 cosine >= LSH top-1 cosine for every query the LSH
    path answers (approximation never beats the exact scan)."""
    bf = {
        r.query_id: r.cosine
        for r in Q["sim_topk_bruteforce"](spark, SF_SMOKE).filter("rank = 1").collect()
    }
    lsh = {
        r.query_id: r.cosine
        for r in Q["sim_topk_lsh"](spark, SF_SMOKE).filter("rank = 1").collect()
    }
    assert lsh, "LSH should answer at least one query"
    for q, c in lsh.items():
        assert bf[q] >= c - 1e-9


def test_quality_score_bounded(spark):
    out = Q["text_quality_score"](spark, SF_SMOKE)
    assert out.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count() == 0


def test_decode_media_is_stubbed():
    import pytest as _pytest

    from pitlapetl_spark.operators.multimodal import decode_media

    with _pytest.raises(NotImplementedError):
        decode_media(b"\x00", "image")


def test_lang_pred_in_domain(spark):
    out = Q["text_lang_id"](spark, SF_SMOKE)
    doms = {r.lang_pred for r in out.select("lang_pred").distinct().collect()}
    assert doms <= {"en", "de", "es", "fr"}


def test_embedding_dedup_lsh_matches_bruteforce(spark):
    """The registered LSH-bucketed embedding dedup must find exactly
    the pair set the O(n^2) brute-force baseline finds on this corpus
    (exact copies hash to identical buckets, so recall on true dups is
    exact-by-construction)."""
    from pitlapetl_spark.operators.dedup import dedup_embedding_cosine_bruteforce

    vp = lambda df: {  # noqa: E731
        (r.vec_a, r.vec_b) for r in df.select("vec_a", "vec_b").collect()
    }
    lsh = vp(Q["dedup_embedding_cosine"](spark, SF_SMOKE))
    bf = vp(dedup_embedding_cosine_bruteforce(spark, SF_SMOKE))
    assert lsh == bf
    assert bf, "corpus should contain planted duplicate vectors"


def test_pii_scrub_removes_all_planted_pii(spark):
    """Every planted email/phone is counted and redacted: docs with
    doc_id % 7 == 0 carry exactly one of each, everything else zero,
    and no document matches the PII patterns after scrubbing."""
    out = Q["text_pii_scrub"](spark, SF_SMOKE).collect()
    for r in out:
        want = 1 if r.doc_id % 7 == 0 else 0
        assert (r.n_emails, r.n_phones) == (want, want), r
        assert r.is_clean, r


def test_filter_gates_are_bounded_and_nontrivial(spark):
    """Repetition ratios live in [0,1]; the composed pretrain gate
    must both keep and drop documents on this corpus (a gate that
    keeps everything or nothing is a threshold bug)."""
    rep = Q["text_repetition_ratios"](spark, SF_SMOKE)
    bad = rep.filter(
        (F.col("top_bigram_frac") < 0)
        | (F.col("top_bigram_frac") > 1)
        | (F.col("dup_trigram_frac") < 0)
        | (F.col("dup_trigram_frac") > 1)
    ).count()
    assert bad == 0
    gate = Q["pipeline_pretrain_filter"](spark, SF_SMOKE)
    kept = gate.filter("keep").count()
    assert 0 < kept < gate.count()


def test_pretrain_filter_observed_one_pass_metrics(spark, sf_dir):
    """The observe()-based gate metrics must agree exactly with
    recomputed per-gate counts, while the observed plan runs the
    corpus scan once (the metrics ride the output job)."""
    from pitlapetl_spark.operators.text_filters import (
        pipeline_pretrain_filter,
        pretrain_filter_observed,
    )

    kept, obs = pretrain_filter_observed(spark, sf_dir)
    n_kept_rows = kept.count()  # the action that populates obs
    m = obs.get
    gate = pipeline_pretrain_filter(spark, sf_dir)
    assert m["n_kept"] == n_kept_rows
    assert m["docs_in"] == gate.count()
    assert m["n_dups"] == gate.filter("is_dup").count()
    assert m["n_lang_fail"] == gate.filter("NOT lang_ok").count()


def test_winnowing_recalls_shifted_copies(spark, sf_dir):
    """Winnowing's defining property: a copy with content shifted by an
    arbitrary prefix keeps (almost) the same fingerprint set — every
    planted shifted copy must pair with its original, at full overlap.
    Fixed-position chunk hashing scores 0 on this corpus."""
    from pyspark.sql import functions as F

    from pitlapetl_spark import registry

    df = registry.QUERIES["dedup_winnowing"](spark, sf_dir)
    planted = df.filter(F.col("doc_b") - F.col("doc_a") == 1000000)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # a document shorter than ~MIN_SHARED windows cannot clear the
    # shared-fingerprint floor — recall is over the detectable corpus
    assert planted.count() >= 0.99 * n_docs
    assert planted.filter(F.col("overlap_ratio") < 0.99).count() == 0


def test_winnowing_fast_matches_md5_pair_set(spark, sf_dir):
    """The length-floored pairs query is the md5 winnowing pipeline
    over the docs >= WINNOW_FAST_MIN_LEN, projected to pairs, and on
    the fixture it only trims the short-doc tail of the full md5
    output."""
    from pitlapetl_spark.operators.dedup import WINNOW_FAST_MIN_LEN, _winnow_pairs

    fast = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_winnowing_fast"](spark, sf_dir).collect()
    }
    md5_floored = {
        (r.doc_a, r.doc_b)
        for r in _winnow_pairs(spark, sf_dir, min_len=WINNOW_FAST_MIN_LEN).collect()
    }
    assert fast == md5_floored
    full = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_winnowing"](spark, sf_dir).collect()
    }
    assert fast <= full
    assert len(fast) >= 0.85 * len(full)


# Queries run against their DuckDB oracles on the benchmark generator's
# data, beyond the fixed sf0.01 fixture: every query built on a shared
# statistical device (life table, quality scorer, Wilson interval, OLS
# tail and moment sums, HLL registers, split counts and Gini, urgent
# order values, daily value series, co-purchase oracle CTEs, points,
# baskets, SQL in-lists), the three batch queries on the shared
# band-candidate join (``band_join``), plus dedup_winnowing_fast. An
# xxhash64-hashed winnowing variant returned 458 rows on seed 1 against
# the oracle's 451: which k-gram a window elects depends on the hash,
# and the DF cap and shared-fingerprint floor turn that into different
# pairs.
GENERATED_PARITY_QUERIES = (
    "survival_kaplan_meier",
    "survival_nelson_aalen",
    "dq_error_rate_wilson",
    "stream_error_rate_wilson",
    "text_quality_score",
    "pipeline_pretrain_filter",
    "pipeline_pretrain_to_shards",
    "curriculum_quality_order",
    "pipeline_release_waterfall",
    "text_zipf_fit",
    "text_heaps_law_fit",
    "ml_linear_fit_closed_form",
    "agg_hll_distinct",
    "agg_hll_set_operations",
    "window_hll_sliding_distinct",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_degree_assortativity",
    "ml_decision_stump_gini",
    "ml_cross_validation_stump",
    "geo_cell_radius_join",
    "geo_nearest_supplier",
    "market_basket_pairs",
    "rec_item_item_cosine",
    "text_lang_id",
    "text_bm25_search",
    "text_phrase_search",
    "ml_cohens_kappa_langid",
    "analytics_woe_iv",
    "stats_qq_deciles",
    "ts_exp_smoothing",
    "ts_holt_linear_trend",
    "anomaly_mahalanobis_2d",
    "dedup_winnowing_fast",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "mm_phash_hamming_near_dup",
)


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory):
    """seed -> directory holding ``star_schema(seed, 0.01)`` and
    ``corpus(seed, 300)`` from perfbench/gen.py, written once per seed."""
    import importlib.util
    import sys

    from tests.conftest import REPO

    spec = importlib.util.spec_from_file_location("perfbench_gen", REPO / "perfbench" / "gen.py")
    gen = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    dirs: dict[int, str] = {}

    def get(seed: int) -> str:
        if seed not in dirs:
            out = tmp_path_factory.mktemp(f"gen_seed{seed}")
            gen.write_tables(gen.star_schema(seed, 0.01) | gen.corpus(seed, 300), str(out))
            dirs[seed] = str(out)
        return dirs[seed]

    return get


@pytest.mark.parametrize("seed", (1, 2))
@pytest.mark.parametrize("name", GENERATED_PARITY_QUERIES)
def test_query_equals_oracle_on_generated_data(spark, generated_dir, name, seed):
    """The query returns exactly its non-empty DuckDB oracle's rows
    under the contract's canonicalization, on generated data."""
    import sys

    from tests.conftest import REPO
    from tests.oracle_harness import duckdb_connection

    if str(REPO / "tools") not in sys.path:
        sys.path.insert(0, str(REPO / "tools"))
    from contract_canon import canon_hash

    data = generated_dir(seed)
    got = registry.QUERIES[name](spark, data).toPandas()
    con = duckdb_connection(data)
    try:
        want = con.execute(registry.ORACLES[name]).df()
    finally:
        con.close()
    assert len(want) > 0
    assert len(got) == len(want)
    assert canon_hash(got) == canon_hash(want)


def test_incremental_minhash_is_batch_vs_corpus_only(spark, sf_dir):
    """Every emitted pair must cross the batch/corpus split (a
    batch-x-batch or corpus-x-corpus pair means the operator is doing
    whole-corpus work), and the found pairs must agree with the
    whole-corpus LSH run restricted to cross-split pairs."""
    from pitlapetl_spark import registry
    from pitlapetl_spark.operators.dedup import INCR_MOD, INCR_REM

    rows = registry.QUERIES["dedup_incremental_minhash"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_new % INCR_MOD == INCR_REM
        assert r.dup_of % INCR_MOD != INCR_REM

    full = registry.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    cross = {
        frozenset((r.doc_a, r.doc_b))
        for r in full
        if (r.doc_a % INCR_MOD == INCR_REM) != (r.doc_b % INCR_MOD == INCR_REM)
    }
    got = {frozenset((r.doc_new, r.dup_of)) for r in rows}
    assert got == cross


def test_repeated_spans_are_maximal_and_disjoint(spark, sf_dir):
    """Structural contract of the island merge: per doc, spans are
    disjoint (a maximal span absorbs everything it overlaps), each is
    at least SPAN_K tokens, and the gram count is bounded by the
    span's possible positions."""
    from pitlapetl_spark import registry
    from pitlapetl_spark.operators.dedup import SPAN_K

    rows = registry.QUERIES["dedup_repeated_spans"](spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r.span_tokens == r.span_end - r.span_start >= SPAN_K
        assert 1 <= r.n_grams <= r.span_tokens - SPAN_K + 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1, "merged spans must not overlap or touch"


def test_repeated_spans_apply_keeps_exactly_first_occurrence(spark, tmp_path):
    """Apply semantics (Lee et al.): on a corpus with one sentence
    planted into several docs and globally-unique filler everywhere
    else, the cleaned corpus keeps the sentence ONLY in the lowest
    (doc_id, pos) occurrence; every other planted doc loses exactly
    the planted region; untouched docs pass through verbatim."""
    import random

    from pitlapetl_spark import registry
    from pitlapetl_spark.operators.dedup import SPAN_K

    rng = random.Random(7)
    sentence = [f"planted{j}" for j in range(SPAN_K + 4)]
    rows, planted_at = [], {}
    for d in range(8):
        # doc 7 is shorter than one gram: must pass through verbatim
        n_fill = 3 if d == 7 else rng.randint(SPAN_K, 25)
        filler = [f"w{d}x{i}" for i in range(n_fill)]
        if d in (1, 3, 6):
            p = rng.randint(0, len(filler))
            filler[p:p] = sentence
            planted_at[d] = p
        text = " ".join(filler)
        rows.append((d, text, "en", "src", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in registry.QUERIES["dedup_repeated_spans_apply"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == 8
    first = min(planted_at)  # globally first by (doc_id, pos)
    for d, (_, text, *_rest) in zip(range(8), rows):
        r = got[d]
        n_tokens = len(text.split())
        if d not in planted_at or d == first:
            assert r.n_spans_cut == 0 and r.cleaned_text == text, d
            assert r.n_tokens_after == n_tokens
        else:
            assert r.n_spans_cut == 1, d
            assert r.n_tokens_after == n_tokens - len(sentence)
            assert "planted0" not in r.cleaned_text
    # the cleaned corpus has no repeated grams left: one more pass
    # over the cleaned text finds nothing
    cleaned_rows = [
        (d, got[d].cleaned_text, "en", "src", len(got[d].cleaned_text))
        for d in got
    ]
    spark.createDataFrame(
        cleaned_rows,
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    again = registry.QUERIES["dedup_repeated_spans"](spark, str(tmp_path))
    assert again.count() == 0


def test_pagerank_ranks_hub_part_above_leaf(spark, tmp_path):
    """Structural sanity on a hand-built star: a part purchased by
    every customer must out-rank a part purchased by one, and rank
    mass must be conserved (sum over ALL nodes ~ 1)."""
    from pitlapetl_spark import registry
    from pitlapetl_spark.operators.pagerank import pagerank_ranks

    orders = [(i, 100 + i) for i in range(6)]  # orderkey -> custkey
    lines = [(i, 1) for i in range(6)] + [(0, 2)]  # part 1 = hub, part 2 = leaf
    spark.createDataFrame(
        [(o, c, "O", 0.0, None, "1-URGENT") for o, c in orders],
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [
            (o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
            for o, p in lines
        ],
        "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, l_linenumber LONG, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    rows = registry.QUERIES["graph_pagerank_copurchase"](
        spark, str(tmp_path)
    ).collect()
    ranks = {r.part_key: r.rank for r in rows}
    assert ranks[1] > ranks[2]
    # every node's rank is positive and bounded
    assert all(0 < v < 1 for v in ranks.values())
    # rank mass is conserved over ALL nodes: no dangling leak, no
    # double-counted contributions (tolerance = accumulated per-step
    # rounding)
    total = sum(
        r.pr for r in pagerank_ranks(spark, str(tmp_path)).collect()
    )
    assert abs(total - 1.0) < 1e-6, total


def _planted_axis(v: int) -> int:
    """Cluster axis of a fixture vector (see _planted_vec_dir)."""
    if v < 5 or v == 10:
        return 0
    if v < 10:
        return 1
    return v % 4


def _planted_vec_dir(spark, tmp_path):
    """Embeddings fixture: FOUR tight orthogonal clusters (labels
    0-3) — one more than NPROBE=3, so IVF probe selection must
    EXCLUDE a list per query and a wrong nprobe ordering (e.g. an
    ascending-cosine rank) fails instead of degenerating to
    brute-force over all lists. vec_ids 0-9 are the query set
    (clusters 0/1), base vector 10 is an EXACT copy of query 0, the
    rest cycle all four clusters with tiny deterministic jitter."""
    import math

    dim = 8
    rows = []

    def vec(axis, jitter_seed):
        v = [0.0] * dim
        v[axis] = 1.0
        # deterministic small jitter on the other axes
        for i in range(dim):
            if i != axis:
                v[i] = math.sin(jitter_seed * 13 + i) * 0.05
        return [float(x) for x in v]

    for q in range(10):  # queries: clusters 0 and 1
        rows.append((q, vec(_planted_axis(q), q), _planted_axis(q)))
    rows.append((10, rows[0][1], 0))  # exact duplicate of query 0
    for b in range(11, 31):  # base vectors cycle clusters 0-3
        rows.append((b, vec(_planted_axis(b), b), _planted_axis(b)))
    spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_semdedup_finds_planted_exact_duplicate(spark, tmp_path):
    """SemDeDup on a planted fixture: the exact-duplicate pair (0, 10)
    must surface with cosine 1.0, and no pair may cross clusters
    (pairing is within-cluster by construction)."""
    d = _planted_vec_dir(spark, tmp_path)
    out = Q["dedup_semantic_semdedup"](spark, d).collect()
    pairs = {(r.vec_a, r.vec_b): r for r in out}
    assert (0, 10) in pairs
    assert pairs[(0, 10)].cosine == 1.0
    for (a, b), r in pairs.items():
        assert _planted_axis(a) == _planted_axis(b), (a, b)


def test_ivf_returns_exact_duplicate_at_rank_one(spark, tmp_path):
    """IVF-flat search on the planted fixture: query 0's exact copy
    (vec 10) must come back at rank 1 with cosine 1.0 — the probe
    must cover the query's own cluster and the rerank must be exact."""
    d = _planted_vec_dir(spark, tmp_path)
    out = Q["sim_topk_ivf_nprobe"](spark, d).collect()
    top = {r.query_id: r for r in out if r.rank == 1}
    assert top[0].neighbor_id == 10
    assert top[0].cosine == 1.0
    # every query got a full top-k from its probed lists
    from pitlapetl_spark.operators.similarity import TOP_K

    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == TOP_K for v in by_q.values())


def test_dsir_ranks_target_language_higher(spark):
    """DSIR importance weights on the real corpus: the target-language
    (en) documents must average a strictly higher log-weight than the
    rest — the defining property of importance resampling toward a
    target distribution."""
    from pyspark.sql import functions as F

    w = Q["dsir_importance_weights"](spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang"
    )
    m = (
        w.join(docs, "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_target"))
        .agg(F.avg("dsir_logweight").alias("mw"))
        .collect()
    )
    mw = {r.is_target: r.mw for r in m}
    assert mw[True] > mw[False]


def test_ltables_lsh_recall_dominates_single_table(spark):
    """The L-tables variant exists because one table measured 0.04
    recall (SCALE.md ladder): at the smoke SF its recall@5 against
    the exact scan must clear a real floor AND strictly dominate the
    single-table path — if either fails, a plane/table regression has
    gutted the candidate union."""
    truth = {
        (r.query_id, r.neighbor_id)
        for r in Q["sim_topk_bruteforce"](spark, SF_SMOKE).collect()
    }
    lt = {
        (r.query_id, r.neighbor_id)
        for r in Q["sim_topk_lsh_ltables"](spark, SF_SMOKE).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in Q["sim_topk_lsh"](spark, SF_SMOKE).collect()
    }
    recall = len(truth & lt) / len(truth)
    recall_single = len(truth & single) / len(truth)
    # measured 0.32 vs 0.04 at sf0.001 (weak-contrast corpus; sf0.1
    # reads 0.66) — floor set with margin below the measurement
    assert recall >= 0.2, recall
    assert recall > recall_single, (recall, recall_single)


def test_gated_heavy_hitters_agree_with_verifier_twin(spark):
    """The gated two-pass plan (no full-key distinct) must surface
    exactly the keys the sketch-verifier twin proves heavy by exact
    count, with identical counts — the gate can drop rows only below
    the threshold, never a true heavy hitter (CMS never
    underestimates)."""
    from pitlapetl_spark.operators.breadth8 import HH_THRESHOLD

    gated = {
        r.user_id: (r.exact_count, r.cms_estimate)
        for r in Q["agg_heavy_hitters_gated"](spark, SF_SMOKE).collect()
    }
    twin = {
        r.user_id: r.exact_cnt
        for r in Q["agg_heavy_hitters_cms"](spark, SF_SMOKE).collect()
        if r.exact_cnt >= HH_THRESHOLD
    }
    assert set(gated) == set(twin)
    for uid, (exact, est) in gated.items():
        assert exact == twin[uid]
        assert est >= exact  # the overestimate invariant survives


def test_hll_estimate_within_theoretical_error(spark):
    """m=256 registers bound the standard error at 1.04/sqrt(m) ~
    6.5%; the estimate must land within 3 sigma of exact (a plane/rho
    regression throws it off by far more), and the small-range
    correction bookkeeping (v_empty) must be consistent."""
    row = Q["agg_hll_distinct"](spark, SF_SMOKE).collect()[0]
    assert abs(row.rel_error) < 0.20, row
    assert row.hll_estimate > 0 and 0 <= row.v_empty <= row.m_registers
    assert abs(row.hll_estimate / row.n_exact - 1 - row.rel_error) < 1e-6


def test_quantile_regression_descends_and_covers(spark):
    """The fixed-iteration pinball trainer must actually descend: its
    final loss beats the zero-weight loss by a wide margin, and the
    empirical coverage moves from 0 toward tau (0.75) without
    overshooting 1."""
    from pitlapetl_spark.operators.breadth8 import QREG_TAU
    from pitlapetl_spark.sources import load_table

    row = Q["ml_quantile_regression_gd"](spark, SF_SMOKE).collect()[0]
    feats = load_table(spark, SF_SMOKE, "lineitem").select(
        (F.col("l_extendedprice") / 10000).alias("y")
    )
    zero_loss = feats.agg(
        F.avg(
            F.when(F.col("y") >= 0, QREG_TAU * F.col("y")).otherwise(
                (QREG_TAU - 1) * F.col("y")
            )
        )
    ).collect()[0][0]
    assert row.pinball_loss < 0.6 * zero_loss, (row.pinball_loss, zero_loss)
    assert 0.3 < row.coverage < 0.95, row.coverage


def test_dp_sum_clamps_and_scales_noise(spark):
    """Contribution bounding must actually fire (customers above the
    cap exist in the fixture) and the released noise must be at the
    CLAMP/epsilon scale — orders of magnitude above the count query's
    1/epsilon noise, the whole point of the sum's sensitivity
    analysis."""
    from pitlapetl_spark.operators.breadth7d import DP_EPSILON
    from pitlapetl_spark.operators.breadth8 import DP_SUM_CLAMP

    rows = Q["privacy_dp_sum_bounded"](spark, SF_SMOKE).collect()
    assert rows and any(r.n_clamped > 0 for r in rows)
    scale = DP_SUM_CLAMP / DP_EPSILON
    for r in rows:
        assert abs(r.released_sum - r.true_sum - r.noise) < 1e-3
        assert abs(r.noise) < 20 * scale  # Laplace tail sanity
    # at least one draw beyond 0.1 scale - the noise is not vestigial
    assert any(abs(r.noise) > 0.1 * scale for r in rows)


def test_proration_conserves_total_revenue(spark):
    """Mass conservation: summing prorated revenue over all months
    must reproduce the corpus's total line revenue to the cent — the
    defining invariant of any allocation (overlap days always
    partition the interval exactly)."""
    from pitlapetl_spark.sources import load_table

    months = Q["analytics_revenue_proration"](spark, SF_SMOKE).collect()
    total_prorated = sum(r.prorated_revenue for r in months)
    total = (
        load_table(spark, SF_SMOKE, "lineitem")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")))
        .collect()[0][0]
    )
    assert abs(total_prorated - float(total)) < 0.05 * len(months), (
        total_prorated,
        float(total),
    )


def test_reflected_balance_equals_sequential_fold(spark):
    """The windowed reflection closed form must equal the literal
    sequential fold b_t = max(0, b_{t-1} + d_t) for every user — and
    the clamp must actually fire somewhere (a fixture where balances
    never hit zero would make the reflection vestigial)."""
    rows = Q["window_reflected_balance"](spark, SF_SMOKE).collect()
    from collections import defaultdict

    from pitlapetl_spark.sources import load_table

    ev = sorted(
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    bal = {}
    want = {}
    for r in ev:
        d = -r.value if r.event_type in ("purchase", "error") else r.value
        b = max(0.0, bal.get(r.user_id, 0.0) + d)
        bal[r.user_id] = b
        want[(r.user_id, r.event_id)] = round(b, 4)
    clamped = 0
    got_map = {(r.user_id, r.event_id): r.balance for r in rows}
    assert len(got_map) == len(want)
    for k, v in want.items():
        assert abs(got_map[k] - v) < 1e-6, (k, got_map[k], v)
        if v == 0.0:
            clamped += 1
    assert clamped > 0  # the floor fires


def test_phrase_search_matches_substring_scan(spark):
    """The postings-join phrase search must find exactly the documents
    a whole-word substring scan finds (the slow path it replaces) —
    same doc set, same per-doc hit counts."""
    from pitlapetl_spark.operators.breadth8 import PHRASE
    from pitlapetl_spark.sources import load_table

    got = {
        r.doc_id: r.n_hits
        for r in Q["text_phrase_search"](spark, SF_SMOKE).collect()
    }
    phrase = " ".join(PHRASE)
    want = {}
    for r in load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect():
        toks = r.text.lower().split(" ")
        n = sum(
            1
            for i in range(len(toks) - len(PHRASE) + 1)
            if toks[i : i + len(PHRASE)] == list(PHRASE)
        )
        if n:
            want[r.doc_id] = n
    assert got == want and got, (len(got), len(want), phrase)


def test_capped_sessions_respect_both_rules(spark):
    """Every capped session must satisfy BOTH invariants: intra-
    session idle gaps never exceed CAP_GAP_S and total duration never
    exceeds CAP_MAX_S; and the cap must actually split something in
    the fixture (slice > 0 exists)."""
    from collections import defaultdict

    from pitlapetl_spark.operators.breadth8 import CAP_GAP_S, CAP_MAX_S

    rows = Q["sessionize_capped"](spark, SF_SMOKE).collect()
    by_sess = defaultdict(list)
    for r in rows:
        by_sess[r.session_id].append(r.ts)
    assert any(s.rsplit("-", 1)[1] != "0" for s in by_sess)  # cap fired
    for sid, tss in by_sess.items():
        tss.sort()
        dur = (tss[-1] - tss[0]).total_seconds()
        assert dur <= CAP_MAX_S, (sid, dur)
        for a, b in zip(tss, tss[1:]):
            assert (b - a).total_seconds() <= CAP_GAP_S, sid


def test_cv_stump_folds_are_leakage_safe_and_sane(spark):
    """Each fold must train on data excluding its own rows: the three
    holdout sizes must partition the order count exactly, accuracies
    must be real probabilities, and every chosen split must be one of
    the candidate deciles."""
    from pitlapetl_spark.operators.breadth7 import STUMP_CUTS
    from pitlapetl_spark.operators.breadth8 import CV_FOLDS
    from pitlapetl_spark.sources import load_table

    rows = Q["ml_cross_validation_stump"](spark, SF_SMOKE).collect()
    assert len(rows) == CV_FOLDS
    n = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n_holdout for r in rows) == n
    for r in rows:
        assert 0.0 <= r.holdout_accuracy <= 1.0
        assert 1 <= r.cut_idx <= STUMP_CUTS
        assert r.left_label in (0, 1) and r.right_label in (0, 1)


def test_dbscan_recovers_the_planted_mixture(spark):
    """The coordinate mixture plants exactly 11 separated blobs plus a
    scattered noise component: the clusterer must report 11 clusters
    (multi-cell each — the components step is exercised, not
    vacuous), and the noise row must hold real points."""
    rows = Q["geo_dbscan_grid"](spark, SF_SMOKE).collect()
    clusters = [r for r in rows if r.cluster_id != -1]
    noise = [r for r in rows if r.cluster_id == -1]
    assert len(clusters) == 11, [r.cluster_id for r in rows]
    assert all(r.n_cells >= 4 for r in clusters)
    assert len(noise) == 1 and noise[0].n_points > 0
    # blob bounding boxes never overlap (centers >= 6 deg apart)
    boxes = [(r.min_cx, r.max_cx, r.min_cy, r.max_cy) for r in clusters]
    for i, a in enumerate(boxes):
        for b in boxes[i + 1:]:
            disjoint = (
                a[1] < b[0] or b[1] < a[0] or a[3] < b[2] or b[3] < a[2]
            )
            assert disjoint, (a, b)


def test_ppr_concentrates_rank_near_seed_nation(spark):
    """Personalization must actually bias the walk: the seed nation's
    directly-purchased parts should dominate the personalized top-k
    far beyond their share of the global top-k (with only a handful
    of seed customers at smoke scale, overlap with their purchase set
    should be total or near-total)."""
    from pitlapetl_spark.operators.pagerank import PPR_SEED_NATION
    from pitlapetl_spark.sources import load_table

    top = Q["graph_pagerank_personalized"](spark, SF_SMOKE).collect()
    assert len(top) > 0
    cu = load_table(spark, SF_SMOKE, "customer")
    na = load_table(spark, SF_SMOKE, "nation").filter(
        F.col("n_name") == PPR_SEED_NATION
    )
    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    seed_parts = {
        r.l_partkey
        for r in cu.join(na, cu.c_nationkey == na.n_nationkey)
        .join(o, cu.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select("l_partkey")
        .distinct()
        .collect()
    }
    hits = sum(1 for r in top if r.part_key in seed_parts)
    assert hits >= 0.7 * len(top), (hits, len(top))
    # ranks are a probability-like vector: positive, descending
    assert all(r.rank > 0 for r in top)
    assert all(a.rank >= b.rank for a, b in zip(top, top[1:]))


def test_hll_set_ops_union_bounds_and_merge_property(spark):
    """Union-by-register-max must land within the sketch error of the
    exact union, never below max(A, B) estimates (register max
    dominates), and the inclusion-exclusion intersection must
    reconcile with the three estimates exactly."""
    r = Q["agg_hll_set_operations"](spark, SF_SMOKE).collect()[0]
    assert abs(r.hll_union / r.exact_union - 1) < 0.25
    assert r.hll_union >= max(r.hll_a, r.hll_b) - 1e-6
    assert abs(r.hll_intersect - (r.hll_a + r.hll_b - r.hll_union)) < 1e-3
    assert r.exact_intersect > 0  # the eras genuinely overlap


def test_holt_tracks_a_planted_linear_ramp(spark):
    """On a drifting series the two-state model must beat the
    single-state one at one-step forecasting — that is its entire
    reason to exist. Verified on the fixture: mean absolute one-step
    error of Holt <= SES's error computed from the same daily
    series."""
    rows = Q["ts_holt_linear_trend"](spark, SF_SMOKE).collect()
    ses = {r.day: r.ses_level for r in Q["ts_exp_smoothing"](spark, SF_SMOKE).collect()}
    days = sorted(r.day for r in rows)
    holt_err, ses_err, n = 0.0, 0.0, 0
    by_day = {r.day: r for r in rows}
    for prev, cur in zip(days, days[1:]):
        r = by_day[cur]
        if r.one_step_forecast is None:
            continue
        holt_err += abs(r.daily_value - r.one_step_forecast)
        ses_err += abs(r.daily_value - ses[prev])  # SES forecast = prior level
        n += 1
    assert n > 10
    assert holt_err / n <= ses_err / n * 1.10, (holt_err / n, ses_err / n)
    # recurrence sanity: level stays inside the data envelope
    vals = [r.daily_value for r in rows]
    assert all(min(vals) - 5 <= r.holt_level <= max(vals) + 5 for r in rows)
