"""Round-10 operator tests: the semantic streaming-ingest parity
query's own contract (the stream-vs-batch and compaction parity
columns must be TRUE in every row — the DuckDB oracle pins them as
literals, this pins them Spark-side with readable failures), plus
the store-lifecycle invariants the registered query relies on."""

import pytest
from pyspark.sql import functions as F

from pitlapetl_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()
Q = registry.QUERIES


def test_semantic_parity_query_all_parities_true(spark):
    rows = Q["stream_semantic_compacted_parity"](spark, SF_SMOKE).collect()
    assert rows, "per-label fold must be non-empty"
    assert all(r.stream_batch_parity for r in rows), [
        (r.label, r.stream_batch_parity) for r in rows
    ]
    assert all(r.compacted_parity for r in rows), [
        (r.label, r.compacted_parity) for r in rows
    ]
    # the double compaction (steady state + crash-leftover heal) must
    # leave exactly ONE generation partition
    assert all(r.store_partitions == 1 for r in rows)
    # fixture sanity: the corpus actually contains semantic near-dups
    # (an all-kept store would vacuously pass the parity columns)
    assert sum(r.n_dropped for r in rows) > 0


def test_semantic_ingest_drop_rule_is_earlier_arrival(spark, tmp_path):
    """Unit probe of the sink's batch body: a later-batch vector that
    duplicates an earlier DROPPED vector must still drop (the
    full-store chain-robustness contract: the store holds kept AND
    dropped rows), which a survivors-only store would let through."""
    from pitlapetl_spark.streaming.runtime import _semantic_ingest_batch

    # three near-identical vectors a(0) ~ b(1) ~ c(2) in one cluster:
    # b drops against a intra-batch; c arrives later and must drop
    # against the stored b (and a) even though b itself was dropped
    base = [1.0, 0.0, 0.0, 0.0]
    rows0 = [(0, [1.0, 0.01, 0.0, 0.0], 0), (1, [1.0, 0.02, 0.0, 0.0], 0)]
    rows1 = [(2, [1.0, 0.03, 0.0, 0.0], 0)]
    schema = "vec_id long, embedding array<float>, label int"
    cent = spark.createDataFrame(
        [(0, base, 1.0), (1, [0.0, 0.0, 0.0, 1.0], 1.0)],
        "label int, cv array<double>, cnrm double",
    )
    ingest = _semantic_ingest_batch(
        cent, str(tmp_path / "store"), str(tmp_path / "corpus"), 100
    )
    ingest(spark.createDataFrame(rows0, schema), 0)
    ingest(spark.createDataFrame(rows1, schema), 1)
    corpus = {
        r.vec_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert corpus == {0}
    verdicts = {
        r.vec_id: r.kept
        for r in spark.read.parquet(str(tmp_path / "store"))
        .select("vec_id", "kept")
        .distinct()
        .collect()
    }
    assert verdicts == {0: True, 1: False, 2: False}


def test_url_canonicalization_rules_unit(spark):
    """Each canonicalization rule on a hand-written raw URL, checked
    against the hand-derived canonical form — the oracle checks the
    derivation end-to-end; this pins the rules on inputs the
    derivation never produces (empty path, fbclid/gclid, multi-run
    slashes, https default port with www)."""
    from pitlapetl_spark.operators.webgate import canonicalize_url

    cases = [
        # scheme+host case, www strip, http default port, fragment
        ("HTTP://WWW.Foo.COM:80/A//B/?b=2&a=1#x", "http://foo.com/A/B?a=1&b=2"),
        # https default port + www, tracking params all dropped
        (
            "HTTPS://www.Bar.com:443/p/?utm_source=x&fbclid=1&gclid=2",
            "https://bar.com/p",
        ),
        # non-default port kept; empty path -> '/'
        ("https://a.b:8080?z=9", "https://a.b:8080/?z=9"),
        # bare root with trailing slashes collapses to '/'
        ("http://h///", "http://h/"),
        # path case preserved; params sorted; empty params dropped
        ("http://h/CaseSensitive?b=1&&a=2", "http://h/CaseSensitive?a=2&b=1"),
    ]
    df = spark.createDataFrame(cases, "raw string, want string").select(
        canonicalize_url(F.col("raw")).alias("got"), "want"
    )
    for r in df.collect():
        assert r.got == r.want, (r.got, r.want)


def test_url_gate_branches_all_populated(spark):
    """The fixture derivation must exercise every verdict branch:
    kept, canonical-dup, blocked — and dup flags never appear on
    blocked rows (dedup runs among unblocked members only)."""
    rows = Q["text_url_canonicalize_gate"](spark, SF_SMOKE).collect()
    assert {(r.is_blocked, r.is_dup, r.kept) for r in rows} == {
        (False, False, True),
        (False, True, False),
        (True, False, False),
    }
    # keep-lowest-doc_id: within each canonical group the kept member
    # is the minimum unblocked doc_id
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        if not r.is_blocked:
            groups[r.url_canon].append(r)
    for g in groups.values():
        kept = [r.doc_id for r in g if r.kept]
        assert kept == [min(r.doc_id for r in g)]


def test_quality_scorer_agrees_with_trainer_accuracy(spark):
    """The scoring pass and the trainer share one fit: the mean of
    the scorer's per-doc `correct` flags must equal the trainer's
    reported accuracy exactly (both round-6 of the same count/n)."""
    scored = Q["text_quality_classifier_score"](spark, SF_SMOKE).collect()
    acc_rows = Q["ml_logreg_gradient_descent"](spark, SF_SMOKE).collect()
    got = round(sum(1 for r in scored if r.correct) / len(scored), 6)
    assert got == acc_rows[0].accuracy
    # the scores genuinely vary per document (a constant score would
    # make the apply pass vacuous), and both verdict outcomes appear
    assert len({r.quality_score for r in scored}) > 10
    assert {r.correct for r in scored} == {True, False}


def test_quality_scorer_plan_is_joinless_map(spark):
    """The model rides as literals, so the scoring projection must
    plan as a pure narrow map over ONE scan — no join operator
    anywhere (the broadcast-model-apply shape). Since the r12 shared
    feature-frame lineage cut (_logreg_train), the scan the map runs
    over is the materialized feature RDD rather than the parquet
    file; either way exactly one scan feeds the projection."""
    df = Q["text_quality_classifier_score"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:800]
    n_scans = plan.count("FileScan parquet") + plan.count("Scan ExistingRDD")
    assert n_scans == 1, plan[:800]


def test_semantic_ingest_replay_after_compaction_no_self_drop(spark, tmp_path):
    """Replay of a batch whose store rows were folded into a
    GENERATION partition: the generation is negative so it passes the
    batch < current probe filter and CONTAINS the replayed batch's
    own rows — without the self-pair guard every vector would match
    its own stored row (cosine 1.0) and the replay would overwrite
    the corpus partition EMPTY (round-10 review catch). Vectors here
    live in distinct clusters with no cross matches, so the replay
    must reproduce the batch exactly."""
    from pitlapetl_spark.streaming.runtime import _semantic_ingest_batch
    from pitlapetl_spark.streaming.store import _compact_partition_store

    schema = "vec_id long, embedding array<float>, label int"
    rows0 = [(0, [1.0, 0.0, 0.0, 0.0], 0)]
    rows1 = [(1, [0.0, 1.0, 0.0, 0.0], 1)]
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0], 1.0), (1, [0.0, 1.0, 0.0, 0.0], 1.0),
         (2, [0.0, 0.0, 1.0, 0.0], 1.0)],
        "label int, cv array<double>, cnrm double",
    )
    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    ingest = _semantic_ingest_batch(cent, store, corpus, compact_every=100)
    ingest(spark.createDataFrame(rows0, schema), 0)
    ingest(spark.createDataFrame(rows1, schema), 1)
    # fold batches 0 and 1 into a generation (batch=-1)
    _compact_partition_store(spark, store, current_batch=2, threshold=2)
    import os

    parts = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch=")
    )
    assert parts == [-1]
    # replay batch 1 (its rows now live ONLY in the generation)
    ingest(spark.createDataFrame(rows1, schema), 1)
    corpus1 = {
        r.vec_id
        for r in spark.read.parquet(f"{corpus}/batch=1").collect()
    }
    assert corpus1 == {1}, "replay self-dropped against the generation"


def test_extract_site_host_anchored(spark):
    """extract_site must read the HOST component only and anchor to
    its end (ADVICE r10): a blocked-domain string in the path or
    query must not extract, nor a superdomain suffix; the real host
    extracts with or without scheme, port, or path."""
    from pitlapetl_spark.operators.webgate import extract_site

    cases = [
        ("https://src3.example.com/a?b=1", "src3.example.com"),
        ("src3.example.com", "src3.example.com"),
        ("https://src3.example.com:8080/a", "src3.example.com"),
        ("https://www.src3.example.com/a", "src3.example.com"),
        # adversarial: blocked string in path / query — no match
        ("https://evil.com/src3.example.com", ""),
        ("https://evil.com/?u=src3.example.com", ""),
        # superdomain suffix — no match
        ("https://src3.example.com.evil.com/", ""),
        ("src3.example.com.evil.com", ""),
        # infix label — no match
        ("https://a.src3.example.com.b.com/", ""),
    ]
    df = spark.createDataFrame(cases, "u string, want string").select(
        extract_site(F.col("u")).alias("got"), "want"
    )
    for r in df.collect():
        assert r.got == r.want, (r.got, r.want)
