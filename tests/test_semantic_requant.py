"""Corpus-sized quantizer for the semantic ingest sink (the SemDeDup
K rule — streaming/runtime.py block comment at _maybe_requantize).

The frozen-quantizer contract (and its registered parity query)
is untouched: these tests cover the opt-in ``requantize_target``
mode — trigger schedule, deterministic fit, store relabeling,
crash-window replay healing, and fresh-checkpoint reprocess
exactness.

Fixture geometry: 8-dim signed basis vectors are pairwise
non-duplicate at SEMDEDUP_TAU = 0.35 (cosine 0 or -1), while an
exact copy of an earlier vector is a duplicate under ANY quantizer
(identical vectors always share their top-2 assignment), so the
kept/dropped expectations survive requantization by construction.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from pitlapetl_spark.streaming.runtime import _semantic_ingest_batch
from pitlapetl_spark.streaming.store import _QUANTIZER_DIR, _quantizer_versions

EMB = "vec_id long, embedding array<float>, label int"
DIM = 8


def _e(i: int, sign: float = 1.0) -> list[float]:
    return [sign if j == i else 0.0 for j in range(DIM)]


def _frozen_cent(spark):
    # K=1 frozen seed quantizer: everything lands in one cluster
    # until the sink requantizes
    return spark.createDataFrame(
        [(0, [1.0] * DIM, float(DIM) ** 0.5)],
        "label int, cv array<double>, cnrm double",
    )


def _batches(spark):
    rows = {
        0: [(i, _e(i), 0) for i in range(4)],
        1: [(10 + i, _e(4 + i), 0) for i in range(4)],
        # id 24 duplicates id 0 exactly -> must drop under any quantizer
        2: [(20 + i, _e(i, -1.0), 0) for i in range(4)]
        + [(24, _e(0), 0)],
        3: [(30 + i, _e(4 + i, -1.0), 0) for i in range(4)],
    }
    return {b: spark.createDataFrame(r, EMB) for b, r in rows.items()}


def _drive(spark, store, corpus, target, upto=4, compact_every=2):
    ingest = _semantic_ingest_batch(
        _frozen_cent(spark),
        store,
        corpus,
        compact_every=compact_every,
        requantize_target=target,
    )
    batches = _batches(spark)
    for b in range(upto):
        ingest(batches[b], b)
    return ingest, batches


def _store_rows(spark, store):
    return sorted(
        (r.vec_id, r.label, tuple(r.v), r.kept, r.src_batch)
        for r in spark.read.parquet(store).collect()
    )


def _corpus_kept(spark, corpus):
    return sorted(r.vec_id for r in spark.read.parquet(corpus).collect())


def test_requantize_triggers_grows_k_and_relabels(spark, tmp_path):
    """At the first schedule batch past the growth gate the sink fits
    K = ceil(n/target), persists it under _quantizer/qbatch=<N>, and
    relabels the whole store so persisted labels equal a fresh top-2
    assignment under the new quantizer."""
    from pitlapetl_spark.operators.similarity import rank_against_centroids

    store, corpus = str(tmp_path / "s"), str(tmp_path / "c")
    _drive(spark, store, corpus, target=2)

    # schedule batch 2: eligible distinct vectors = 8 (batches 0-1)
    # > growth(2) x target(2) x K_active(1) = 4 -> K_new = 8/2 = 4
    versions = _quantizer_versions(store)
    assert list(versions) == [2], versions
    fitted = spark.read.parquet(versions[2])
    assert fitted.count() == 4
    assert sorted(r.label for r in fitted.collect()) == [0, 1, 2, 3]

    # the exact duplicate dropped even across the requantize boundary;
    # everything else (pairwise cosine <= 0) kept
    assert _corpus_kept(spark, corpus) == [
        0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 30, 31, 32, 33,
    ]

    # store labels == fresh top-2 assignment under the active quantizer
    st = spark.read.parquet(store)
    distinct_vecs = st.select("vec_id", "v", "nrm").dropDuplicates(
        ["vec_id", "v"]
    )
    expected = {
        (r.vec_id, r.label)
        for r in rank_against_centroids(distinct_vecs, fitted)
        .filter(F.col("crk") <= 2)
        .collect()
    }
    got = {(r.vec_id, r.label) for r in st.collect()}
    assert got == expected


def test_requantize_is_deterministic(spark, tmp_path):
    """Two identical runs produce bit-identical stores, corpora, and
    persisted quantizers (the replay-exactness precondition)."""
    a_s, a_c = str(tmp_path / "as"), str(tmp_path / "ac")
    b_s, b_c = str(tmp_path / "bs"), str(tmp_path / "bc")
    _drive(spark, a_s, a_c, target=2)
    _drive(spark, b_s, b_c, target=2)
    assert _store_rows(spark, a_s) == _store_rows(spark, b_s)
    assert _corpus_kept(spark, a_c) == _corpus_kept(spark, b_c)
    qa, qb = _quantizer_versions(a_s), _quantizer_versions(b_s)
    assert list(qa) == list(qb)
    for v in qa:
        ca = sorted(
            (r.label, tuple(r.cv), r.cnrm)
            for r in spark.read.parquet(qa[v]).collect()
        )
        cb = sorted(
            (r.label, tuple(r.cv), r.cnrm)
            for r in spark.read.parquet(qb[v]).collect()
        )
        assert ca == cb


def test_replay_of_requantize_batch_heals_crash_window(spark, tmp_path):
    """Crash between the quantizer commit and the relabel commit
    leaves store labels under the OLD version with qbatch=<N> already
    sealed; the replay of batch N must re-run the relabel (the
    ``batch_id in versions`` path) so labels and assignments agree."""
    store, corpus = str(tmp_path / "s"), str(tmp_path / "c")
    pre = str(tmp_path / "pre")

    # run batches 0-1, snapshot the pre-requantize store
    ingest, batches = _drive(spark, store, corpus, target=2, upto=2)
    shutil.copytree(store, pre)
    # batch 2 requantizes; keep its reference result
    ingest(batches[2], 2)
    ref_store = _store_rows(spark, store)
    ref_kept = _corpus_kept(spark, corpus)

    # manufacture the crash state: old-labeled store + sealed qbatch=2
    qdir = os.path.join(store, _QUANTIZER_DIR)
    for d in os.listdir(store):
        if d != _QUANTIZER_DIR:
            shutil.rmtree(os.path.join(store, d))
    for d in os.listdir(pre):
        if d != _QUANTIZER_DIR:
            shutil.copytree(os.path.join(pre, d), os.path.join(store, d))
    assert os.path.exists(qdir)

    # replay batch 2 with a FRESH factory (restart = new closure)
    replay = _semantic_ingest_batch(
        _frozen_cent(spark),
        store,
        corpus,
        compact_every=2,
        requantize_target=2,
    )
    replay(batches[2], 2)
    assert _store_rows(spark, store) == ref_store
    assert _corpus_kept(spark, corpus) == ref_kept


def test_fresh_reprocess_with_future_versions_is_exact(spark, tmp_path):
    """Disaster-recovery reprocess: replaying from batch 0 against a
    store carrying labels and qbatch dirs from FUTURE first-run
    requantizations must relabel back to the version active at each
    batch and converge to the first run exactly, re-deriving the same
    quantizer versions on schedule."""
    store, corpus = str(tmp_path / "s"), str(tmp_path / "c")
    _drive(spark, store, corpus, target=2)
    ref_store = set(_store_rows(spark, store))
    ref_kept = _corpus_kept(spark, corpus)
    ref_versions = list(_quantizer_versions(store))

    _drive(spark, store, corpus, target=2)  # fresh factory, same dirs
    # row SET equality: a reprocess can leave first-run rows both in a
    # folded generation and in its own rewritten batch partitions —
    # the compaction crash window's documented duplicate tolerance
    # (full-row dupes, collapsed by the next fold, invisible to the
    # pair-deduped probes); content and verdicts must be exact
    assert set(_store_rows(spark, store)) == ref_store
    assert _corpus_kept(spark, corpus) == ref_kept
    assert list(_quantizer_versions(store)) == ref_versions


def test_streaming_requant_with_checkpoint_restart(spark, tmp_path):
    """End-to-end wiring: the REAL stream (readStream + checkpoint +
    availableNow) with requantize_target set requantizes on schedule,
    keeps the right corpus, and a restart from the SAME checkpoint
    over newly arrived files continues the version history instead of
    resetting it."""
    import time

    from pitlapetl_spark.streaming.runtime import (
        read_embeddings_stream,
        run_semantic_ingest_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = _batches(spark)
    for b in range(4):
        batches[b].coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    store, corpus = str(tmp_path / "s"), str(tmp_path / "c")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = run_semantic_ingest_sink(
            read_embeddings_stream(spark, src, max_files_per_trigger=1),
            _frozen_cent(spark),
            store,
            corpus,
            ckpt,
            compact_every=2,
            requantize_target=2,
        )
        q.awaitTermination(300)

    run()
    assert _corpus_kept(spark, corpus) == [
        0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 30, 31, 32, 33,
    ]
    assert list(_quantizer_versions(store)) == [2]

    # two scaled copies of earlier vectors arrive: cosine-1.0 dups
    # under any quantizer; the restart continues from the checkpoint
    # (batch 4 = a schedule batch; 17 distinct earlier vectors >
    # 2 x target x K_active(4) = 16 -> second requantize)
    spark.createDataFrame(
        [(40, [x * 2.0 for x in _e(0, -1.0)], 0),
         (41, [x * 3.0 for x in _e(4)], 0)],
        EMB,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert _corpus_kept(spark, corpus) == [
        0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 30, 31, 32, 33,
    ]
    assert sorted(_quantizer_versions(store)) == [2, 4]
    st = spark.read.parquet(store)
    verdicts = {
        r.vec_id: r.kept
        for r in st.select("vec_id", "kept").distinct().collect()
    }
    assert verdicts[40] is False and verdicts[41] is False


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


@given(
    seed=st.integers(0, 2**31 - 1),
    n_batches=st.integers(3, 4),
    vecs_per_batch=st.integers(3, 8),
    n_dups=st.integers(1, 3),
)
@settings(
    max_examples=4, deadline=None, suppress_health_check=list(HealthCheck)
)
# plants (106 <- 3), (5 <- 4), (3 <- 1): the third would overwrite the
# source of the first, leaving 106 a copy of nothing
@example(seed=11761, n_batches=3, vecs_per_batch=7, n_dups=3)
def test_requant_verdicts_sound_and_exact_dups_complete(
    spark, seed, n_batches, vecs_per_batch, n_dups
):
    """The quantizer (frozen or grown) only shapes the CANDIDATE set;
    the verdict is always exact cosine at tau. Two properties must
    therefore hold on ARBITRARY corpora and batch splits, whatever
    the requantization history: (a) SOUNDNESS — every dropped vector
    has some earlier-arrived vector at cosine >= tau (no false
    drops, ever); (b) EXACT-DUP COMPLETENESS — a planted identical
    copy of an earlier vector always drops, because identical
    vectors share their top-2 assignment under ANY quantizer (and
    the store persists dropped rows, so the original being dropped
    cannot hide the copy)."""
    import math
    import random
    import tempfile

    from pitlapetl_spark.operators.similarity import SEMDEDUP_TAU

    rng = random.Random(seed)
    dim = DIM
    pos = []  # arrival-ordered (vec_id, vector)
    for b in range(n_batches):
        for i in range(vecs_per_batch):
            v = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
            while sum(x * x for x in v) < 1e-3:
                v = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
            pos.append((b * 100 + i, v))
    # plant exact copies of earlier vectors at later positions; a
    # plant may not overwrite an earlier plant's source, or that
    # plant would stop being a copy
    planted, sources = set(), set()
    for _ in range(n_dups):
        j = rng.randrange(1, len(pos))
        i = rng.randrange(0, j)
        if pos[j][0] in planted | sources or pos[i][0] in planted:
            continue
        pos[j] = (pos[j][0], list(pos[i][1]))
        planted.add(pos[j][0])
        sources.add(pos[i][0])
    for j, (vid, v) in enumerate(pos):
        if vid in planted:
            assert any(pos[i][1] == v for i in range(j)), vid

    d = tempfile.mkdtemp(prefix="pitlap_requant_prop_")
    ingest = _semantic_ingest_batch(
        _frozen_cent(spark),  # DIM matches the generated vectors
        f"{d}/store",
        f"{d}/corpus",
        compact_every=2,
        requantize_target=2,
    )
    for b in range(n_batches):
        rows = [
            (vid, [float(x) for x in v], 0)
            for vid, v in pos
            if vid // 100 == b
        ]
        ingest(spark.createDataFrame(rows, EMB), b)

    kept = {
        r.vec_id: r.kept
        for r in spark.read.parquet(f"{d}/store")
        .select("vec_id", "kept")
        .distinct()
        .collect()
    }
    assert set(kept) == {vid for vid, _ in pos}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    # (a) soundness: a dropped vector has an earlier true match
    for j, (vid, v) in enumerate(pos):
        if not kept[vid]:
            assert any(
                cos(pos[i][1], v) >= SEMDEDUP_TAU - 1e-6
                for i in range(j)
            ), f"vec {vid} dropped with no earlier match >= tau"
    # (b) exact-dup completeness: planted copies always drop
    for vid in planted:
        assert kept[vid] is False, f"planted exact dup {vid} kept"


def test_fit_quantizer_edges(spark):
    """Direct _fit_quantizer edges: k capped by available nonzero-norm
    vectors; labels dense from 0; empty Lloyd clusters keep their seed
    vector; zero-norm vectors never seed."""
    from pitlapetl_spark.streaming.runtime import _fit_quantizer

    vecs = spark.createDataFrame(
        [(i, _e(i % DIM), float(1)) for i in range(5)]
        + [(99, [0.0] * DIM, 0.0)],
        "vec_id long, v array<double>, nrm double",
    )
    fitted = _fit_quantizer(vecs, 3).collect()
    assert sorted(r.label for r in fitted) == [0, 1, 2]
    assert all(r.cnrm > 0 for r in fitted)

    # k larger than the pool: every nonzero vector seeds, no more
    fitted = _fit_quantizer(vecs, 10).collect()
    assert len(fitted) == 5
    assert sorted(r.label for r in fitted) == list(range(5))


def test_requantize_target_validated(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="requantize_target"):
        _semantic_ingest_batch(
            _frozen_cent(spark),
            str(tmp_path / "s"),
            str(tmp_path / "c"),
            compact_every=2,
            requantize_target=0,
        )


def test_frozen_mode_creates_no_quantizer_state(spark, tmp_path):
    """Default requantize_target=None is the untouched frozen
    contract: no _quantizer directory ever appears."""
    store, corpus = str(tmp_path / "s"), str(tmp_path / "c")
    ingest = _semantic_ingest_batch(
        _frozen_cent(spark), store, corpus, compact_every=2
    )
    batches = _batches(spark)
    for b in range(4):
        ingest(batches[b], b)
    assert not os.path.exists(os.path.join(store, _QUANTIZER_DIR))
    assert _corpus_kept(spark, corpus) == [
        0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23, 30, 31, 32, 33,
    ]
