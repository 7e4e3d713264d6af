"""Streaming-sink throughput probe (VERDICT r4 item 8): measured
per-batch wall for the round-4 streaming sinks so the
O(batch + collisions) / O(touched partitions) claims carry numbers.
Results are recorded in SCALE.md "Streaming sink throughput".

    python tools/streaming_probe.py

Method: each sink processes K micro-batches (maxFilesPerTrigger=1,
availableNow) at several rows-per-batch sizes; reported cost is
total wall / K. For the scoped upsert, every batch touches its OWN
partition value while the table keeps growing — a flat per-batch cost
across batch index is the O(touched partitions) evidence. For the
dedup ingest sink the band/signature store grows per batch, so the
per-batch trend shows the documented store-scan component.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from pitlapetl_spark.session import get_spark  # noqa: E402


def probe_scoped_upsert(spark, rows_per_batch: int, n_batches: int) -> dict:
    from pitlapetl_spark.streaming.runtime import run_upsert_sink_scoped

    tmp = tempfile.mkdtemp(prefix="pitlap_sprobe_")
    try:
        src = f"{tmp}/src"
        per_batch = []
        for b in range(n_batches):
            # each batch = one file = one partition value ("day")
            (
                spark.range(rows_per_batch)
                .select(
                    F.lit(f"d{b}").alias("day"),
                    F.col("id").alias("k"),
                    (F.col("id") * 1.5).alias("v"),
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            stream = (
                spark.readStream.schema("day string, k long, v double")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            agg = stream.groupBy("day", "k").agg(F.sum("v").alias("total"))
            t0 = time.perf_counter()
            q = run_upsert_sink_scoped(
                agg, f"{tmp}/table", ["day", "k"], "day", f"{tmp}/ckpt"
            )
            q.awaitTermination(600)
            per_batch.append(round(time.perf_counter() - t0, 3))
        total_rows = spark.read.parquet(f"{tmp}/table").count()
        assert total_rows == rows_per_batch * n_batches, total_rows
        return {
            "rows_per_batch": rows_per_batch,
            "per_batch_sec": per_batch,
            "rows_per_sec": round(rows_per_batch / (sum(per_batch) / n_batches)),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_dedup_ingest(
    spark,
    docs_per_batch: int,
    n_batches: int,
    compact_every: int | None = None,
) -> dict:
    from pitlapetl_spark.streaming.runtime import (
        DEDUP_INGEST_COMPACT_EVERY,
        read_documents_stream,
        run_dedup_ingest_sink,
    )

    if compact_every is None:
        compact_every = DEDUP_INGEST_COMPACT_EVERY

    tmp = tempfile.mkdtemp(prefix="pitlap_dprobe_")
    try:
        src = f"{tmp}/src"
        # round-12 instrument fix: the original 10-word cyclic
        # vocabulary made every doc's shingle SET identical (all ten
        # cyclic 3-grams, jaccard 1.0) — everything after the first
        # doc deduped away and the store's ROW mass never grew, so
        # the long-run rows measured the per-batch partition-listing
        # term only. Tokens are now unique per (doc, position):
        # nothing dedups, the store grows its true worst case
        # (+1 signature +4 band rows per doc), and the final store
        # row count is REPORTED so growth claims stay measured.
        per_batch = []
        for b in range(n_batches):
            base = b * docs_per_batch
            rows = [
                (
                    base + i,
                    " ".join(f"w{base + i}t{j}" for j in range(40)),
                    "en",
                    "probe",
                    200,
                )
                for i in range(docs_per_batch)
            ]
            (
                spark.createDataFrame(
                    rows, "doc_id long, text string, lang string, source string, n_chars long"
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            docs = read_documents_stream(spark, src, max_files_per_trigger=1)
            t0 = time.perf_counter()
            q = run_dedup_ingest_sink(
                docs,
                f"{tmp}/store",
                f"{tmp}/corpus",
                f"{tmp}/ckpt",
                compact_every=compact_every,
            )
            q.awaitTermination(600)
            per_batch.append(round(time.perf_counter() - t0, 3))
        store_rows = spark.read.parquet(f"{tmp}/store").count()
        band_rows = spark.read.parquet(f"{tmp}/store_bands").count()
        return {
            "docs_per_batch": docs_per_batch,
            "compact_every": compact_every,
            "store_rows_final": store_rows,
            "band_rows_final": band_rows,
            "per_batch_sec": per_batch,
            "docs_per_sec": round(docs_per_batch / (sum(per_batch) / n_batches)),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)




def probe_semantic_ingest(
    spark,
    vecs_per_batch: int,
    n_batches: int,
    compact_every: int,
    dim: int = 16,
    n_centroids: int = 8,
) -> dict:
    """Per-batch wall of the semantic embedding ingest sink across a
    long run with generation compaction — the flat-per-batch evidence
    the minhash sink carries (SCALE.md), for the round-10 family
    member. Vectors are deterministic functions of (vec_id, i), all
    distinct, so the probe measures the store lifecycle (score +
    probe + write + amortized compaction), not drop volume."""
    from pitlapetl_spark.streaming.runtime import (
        read_embeddings_stream,
        run_semantic_ingest_sink,
    )

    tmp = tempfile.mkdtemp(prefix="pitlap_semprobe_")
    try:
        src = f"{tmp}/src"
        cent = spark.createDataFrame(
            [
                (
                    c,
                    [
                        float(1 + ((c * 7 + i * 3) % 5))
                        if i % n_centroids == c
                        else float((c + i) % 3)
                        for i in range(dim)
                    ],
                )
                for c in range(n_centroids)
            ],
            f"label int, cv array<double>",
        ).withColumn(
            "cnrm",
            F.sqrt(F.expr("aggregate(cv, 0D, (acc, x) -> acc + x * x)")),
        )
        per_batch = []
        for b in range(n_batches):
            base = b * vecs_per_batch
            rows = [
                (
                    base + i,
                    [
                        float(((base + i) * 31 + j * 17) % 13 - 6)
                        for j in range(dim)
                    ],
                    0,
                )
                for i in range(vecs_per_batch)
            ]
            (
                spark.createDataFrame(
                    rows, "vec_id long, embedding array<float>, label int"
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            emb = read_embeddings_stream(spark, src, max_files_per_trigger=1)
            t0 = time.perf_counter()
            q = run_semantic_ingest_sink(
                emb,
                cent,
                f"{tmp}/store",
                f"{tmp}/corpus",
                f"{tmp}/ckpt",
                compact_every=compact_every,
            )
            q.awaitTermination(600)
            per_batch.append(round(time.perf_counter() - t0, 3))
        k = max(1, n_batches // 6)
        return {
            "vecs_per_batch": vecs_per_batch,
            "compact_every": compact_every,
            "first_k_mean": round(sum(per_batch[:k]) / k, 3),
            "last_k_mean": round(sum(per_batch[-k:]) / k, 3),
            "per_batch_sec": per_batch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_url_ingest(
    spark, urls_per_batch: int, n_batches: int, compact_every: int
) -> dict:
    """Per-batch wall of the URL front-door ingest sink across a long
    run with generation compaction — the flat-per-batch evidence the
    other family members carry, for the round-11 member. URLs are
    deterministic functions of doc_id with rotating raw-form variety
    (case/www/port/params), all canonically distinct and all on
    UNBLOCKED sites (src20..src39 — BLOCKED_SITES covers only
    src3/7/11, and a gated row would shrink the measured store
    growth), so the probe measures the store lifecycle (canonicalize
    + window + broadcast probe + write + amortized compaction), not
    drop volume."""
    from pitlapetl_spark.streaming.runtime import run_url_ingest_sink

    tmp = tempfile.mkdtemp(prefix="pitlap_urlprobe_")
    try:
        src = f"{tmp}/src"
        per_batch = []
        for b in range(n_batches):
            base = b * urls_per_batch
            rows = []
            for i in range(urls_per_batch):
                d = base + i
                scheme = "HTTPS" if d % 2 else "https"
                www = "WWW." if d % 3 == 0 else ""
                port = ":443" if d % 5 == 0 else ""
                q = "?utm_source=probe&id=%d" % d if d % 4 == 0 else "?id=%d" % d
                rows.append(
                    (d, f"{scheme}://{www}src{20 + d % 20}.example.com{port}"
                        f"/p//{d}{q}")
                )
            (
                spark.createDataFrame(rows, "doc_id long, url_raw string")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            stream = (
                spark.readStream.schema("doc_id long, url_raw string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            t0 = time.perf_counter()
            q_ = run_url_ingest_sink(
                stream,
                f"{tmp}/store",
                f"{tmp}/corpus",
                f"{tmp}/ckpt",
                compact_every=compact_every,
            )
            q_.awaitTermination(600)
            per_batch.append(round(time.perf_counter() - t0, 3))
        k = max(1, n_batches // 6)
        return {
            "urls_per_batch": urls_per_batch,
            "compact_every": compact_every,
            "first_k_mean": round(sum(per_batch[:k]) / k, 3),
            "last_k_mean": round(sum(per_batch[-k:]) / k, 3),
            "per_batch_sec": per_batch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_span_ingest(
    spark,
    docs_per_batch: int,
    n_batches: int,
    compact_every: int,
    tokens_per_doc: int = 200,
) -> dict:
    """Per-batch wall of the exact-substring span-dedup ingest sink
    across a long run with generation compaction. Tokens are unique
    per (doc_id, position) — "w{doc_id}p{j}" — so every gram is
    corpus-unique and the store grows exactly (tokens - K + 1) rows
    per doc, the TRUE worst case for this sink (the gram store IS the
    scale cost of substring dedup). The round-12 instrument fix: the
    previous generator drew tokens from a 9,973-word cyclic
    vocabulary whose gram content was a pure function of
    (31*doc_id + 7*pos) mod 9973 — the store CAPPED at 9,973 rows and
    every doc after the ~52nd was fully cut, so the "store growth"
    the r11 long-run claimed to stress never happened. The probe now
    REPORTS the measured store row count so a growth claim can never
    again outrun the instrument."""
    from pitlapetl_spark.streaming.runtime import run_span_dedup_ingest_sink

    tmp = tempfile.mkdtemp(prefix="pitlap_spanprobe_")
    try:
        src = f"{tmp}/src"
        per_batch = []
        for b in range(n_batches):
            base = b * docs_per_batch
            rows = [
                (
                    base + i,
                    " ".join(
                        f"w{base + i}p{j}" for j in range(tokens_per_doc)
                    ),
                )
                for i in range(docs_per_batch)
            ]
            (
                spark.createDataFrame(rows, "doc_id long, text string")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            t0 = time.perf_counter()
            q_ = run_span_dedup_ingest_sink(
                stream,
                f"{tmp}/store",
                f"{tmp}/corpus",
                f"{tmp}/ckpt",
                compact_every=compact_every,
            )
            q_.awaitTermination(600)
            per_batch.append(round(time.perf_counter() - t0, 3))
        store_rows = spark.read.parquet(f"{tmp}/store").count()
        k = max(1, n_batches // 6)
        return {
            "docs_per_batch": docs_per_batch,
            "tokens_per_doc": tokens_per_doc,
            "compact_every": compact_every,
            "store_rows_final": store_rows,
            "first_k_mean": round(sum(per_batch[:k]) / k, 3),
            "last_k_mean": round(sum(per_batch[-k:]) / k, 3),
            "per_batch_sec": per_batch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_pipeline_ingest(
    spark,
    docs_per_batch: int,
    n_batches: int,
    compact_every: int,
    tokens_per_doc: int = 200,
    requant_target: int | None = None,
) -> dict:
    """Per-batch wall of the COMPOSED crawl-ingest chain (URL gate ->
    span cut -> minhash -> semantic — the stream_ingest_pipeline_parity
    production shape) across a long run. Drives the four sinks' real
    batch bodies directly (the parity query's device), so the
    measured wall is the chain itself, not stream-restart overhead.
    Every stage does REAL work and passes real mass downstream: every
    7th doc re-spells an earlier doc's URL (gate drops it); each doc
    opens with a shared 12-token boilerplate header (the span stage
    cuts it from every doc after the first) followed by per-(doc,pos)
    unique tokens (maximal gram-store growth, nothing else cut);
    embeddings are diverse direction vectors (period-9973 generator —
    the round-12 instrument fix: a period-13 generator made every
    vector a cosine-1.0 dup, and the original cyclic-vocabulary text
    generator let the span stage cut every doc after the ~52nd to
    nothing, starving every downstream stage). Reports final
    store/corpus row counts so flow-through is measured, not
    assumed."""
    import os as _os

    from pitlapetl_spark.streaming.runtime import (
        _dedup_ingest_batch,
        _semantic_ingest_batch,
        _span_ingest_batch,
        _url_ingest_batch,
    )

    dim, n_cent = 16, 8
    cent = spark.createDataFrame(
        [
            (
                c,
                [
                    float(1 + ((c * 7 + i * 3) % 5))
                    if i % n_cent == c
                    else float((c + i) % 3)
                    for i in range(dim)
                ],
            )
            for c in range(n_cent)
        ],
        "label int, cv array<double>",
    ).withColumn(
        "cnrm",
        F.sqrt(F.expr("aggregate(cv, 0D, (acc, x) -> acc + x * x)")),
    )

    tmp = tempfile.mkdtemp(prefix="pitlap_pipeprobe_")
    try:
        u_corp, s_corp, m_corp, e_corp = (
            f"{tmp}/uc", f"{tmp}/sc", f"{tmp}/mc", f"{tmp}/ec",
        )
        url_ing = _url_ingest_batch(f"{tmp}/us", u_corp, compact_every)
        span_ing = _span_ingest_batch(f"{tmp}/ss", s_corp, compact_every)
        mh_ing = _dedup_ingest_batch(f"{tmp}/ms", m_corp, compact_every)
        sem_ing = _semantic_ingest_batch(
            cent,
            f"{tmp}/es",
            e_corp,
            compact_every,
            # opt-in corpus-sized quantizer (the SemDeDup K rule) —
            # the knob that bounds the semantic stage's per-batch
            # candidate mass as the store grows
            requantize_target=requant_target,
        )
        per_batch = []
        for b in range(n_batches):
            base = b * docs_per_batch
            rows = [
                (
                    base + i,
                    # every 7th doc re-crawls doc (id // 7)'s URL
                    # (host AND path — the r12 flow-count check
                    # caught the first version re-spelling only the
                    # path under its own host, which dups nothing)
                    "https://site{h}.example.com/p/{p}".format(
                        h=(
                            ((base + i) // 7) % 97
                            if (base + i) % 7 == 0
                            else (base + i) % 97
                        ),
                        p=(base + i) // 7 if (base + i) % 7 == 0
                        else base + i,
                    ),
                    "h0 h1 h2 h3 h4 h5 h6 h7 h8 h9 h10 h11 "
                    + " ".join(
                        f"w{base + i}p{j}"
                        for j in range(tokens_per_doc - 12)
                    ),
                )
                for i in range(docs_per_batch)
            ]
            batch = spark.createDataFrame(
                rows, "doc_id long, url_raw string, text string"
            )
            t0 = time.perf_counter()
            url_ing(batch, b)
            p = f"{u_corp}/batch={b}"
            if _os.path.exists(p):
                span_ing(
                    spark.read.parquet(p).select("doc_id", "text"), b
                )
                p2 = f"{s_corp}/batch={b}"
                if _os.path.exists(p2):
                    mh_ing(
                        spark.read.parquet(p2).select(
                            "doc_id",
                            F.col("cleaned_text").alias("text"),
                        ),
                        b,
                    )
                    p3 = f"{m_corp}/batch={b}"
                    if _os.path.exists(p3):
                        # stage 4: deterministic per-doc embeddings
                        # (the semantic probe's generator) for the
                        # minhash survivors
                        surv = spark.read.parquet(p3).select(
                            F.col("doc_id").alias("vec_id")
                        )
                        sem_ing(
                            surv.select(
                                "vec_id",
                                # hash-mixed components: arithmetic
                                # ramps (the first two generators)
                                # make near-parallel vectors — every
                                # doc dups and the stage starves
                                F.expr(
                                    f"transform(sequence(0, {dim - 1}), "
                                    "j -> CAST(xxhash64(concat("
                                    "CAST(vec_id AS STRING), 'x', "
                                    "CAST(j AS STRING))) % 1009 "
                                    "AS FLOAT) / 101.0)"
                                ).alias("embedding"),
                                F.lit(0).alias("label"),
                            ),
                            b,
                        )
            per_batch.append(round(time.perf_counter() - t0, 3))
        counts = {
            name: (
                spark.read.parquet(path).count()
                if _os.path.exists(path)
                else 0
            )
            for name, path in (
                ("url_corpus", u_corp),
                ("span_store", f"{tmp}/ss"),
                ("mh_corpus", m_corp),
                ("sem_corpus", e_corp),
            )
        }
        from pitlapetl_spark.streaming.store import _quantizer_versions

        qv = _quantizer_versions(f"{tmp}/es")
        counts["sem_quantizer_k"] = (
            spark.read.parquet(qv[max(qv)]).count() if qv else n_cent
        )
        k = max(1, n_batches // 6)
        return {
            "docs_per_batch": docs_per_batch,
            "tokens_per_doc": tokens_per_doc,
            "compact_every": compact_every,
            "flow": counts,
            "first_k_mean": round(sum(per_batch[:k]) / k, 3),
            "last_k_mean": round(sum(per_batch[-k:]) / k, 3),
            "per_batch_sec": per_batch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_semantic_mass(
    spark,
    vecs_per_batch: int,
    n_batches: int,
    compact_every: int,
    requant_target: int | None = None,
    dim: int = 16,
    n_centroids: int = 8,
) -> dict:
    """A/B instrument for the semantic stage's candidate-mass term.

    The composed-pipeline probe's semantic store (~2k vectors) is too
    small for the frozen-K linear term to clear the ~7 s/batch
    lifecycle noise floor (the round-12 re-measure showed the earlier
    'climbing tail' was session load). This probe feeds the semantic
    batch body alone at a vector rate where the term is unambiguous:
    per-batch candidate pairs ~ batch x 2(top-2) x store_rows/K, so
    at 2,000 vecs/batch a frozen K=8 reaches ~40M pairs/batch by
    batch 24 while the corpus-sized quantizer (requant_target) holds
    pairs/batch ~constant at batch x 4 x target. Embeddings are
    hash-mixed unique directions (the round-12 instrument-audit
    generator — arithmetic ramps make near-parallel vectors and
    degenerate cluster geometry). Reports final store rows and
    quantizer K so the claim is measured, not assumed."""
    from pitlapetl_spark.streaming.runtime import _semantic_ingest_batch
    from pitlapetl_spark.streaming.store import _quantizer_versions

    cent = spark.createDataFrame(
        [
            (
                c,
                [
                    float(1 + ((c * 7 + i * 3) % 5))
                    if i % n_centroids == c
                    else float((c + i) % 3)
                    for i in range(dim)
                ],
            )
            for c in range(n_centroids)
        ],
        "label int, cv array<double>",
    ).withColumn(
        "cnrm",
        F.sqrt(F.expr("aggregate(cv, 0D, (acc, x) -> acc + x * x)")),
    )
    tmp = tempfile.mkdtemp(prefix="pitlap_semmass_")
    try:
        store, corpus = f"{tmp}/store", f"{tmp}/corpus"
        sem = _semantic_ingest_batch(
            cent, store, corpus, compact_every,
            requantize_target=requant_target,
        )
        per_batch = []
        for b in range(n_batches):
            base = b * vecs_per_batch
            batch = spark.range(base, base + vecs_per_batch).select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(0, {dim - 1}), "
                    "j -> CAST(xxhash64(concat(CAST(id AS STRING), 'x', "
                    "CAST(j AS STRING))) % 1009 AS FLOAT) / 101.0)"
                ).alias("embedding"),
                F.lit(0).alias("label"),
            )
            t0 = time.perf_counter()
            sem(batch, b)
            per_batch.append(round(time.perf_counter() - t0, 3))
        qv = _quantizer_versions(store)
        k = max(1, n_batches // 6)
        return {
            "vecs_per_batch": vecs_per_batch,
            "compact_every": compact_every,
            "requant_target": requant_target,
            "store_rows": spark.read.parquet(store).count(),
            "quantizer_k": (
                spark.read.parquet(qv[max(qv)]).count()
                if qv
                else n_centroids
            ),
            "first_k_mean": round(sum(per_batch[:k]) / k, 3),
            "last_k_mean": round(sum(per_batch[-k:]) / k, 3),
            "per_batch_sec": per_batch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_monitor_sink(spark, kind: str, rows_per_batch: int, n_batches: int) -> dict:
    """Monitor sinks (CUSUM / PSI / k-anonymity / OOV): per-batch
    partials are fixed-size (types x days-touched, bins, QI x bands,
    resp. one row), so per-batch wall should be FLAT in batch index
    and near-flat in batch size — the evidence behind their O(batch)
    claims. The kanon/oov kinds synthesize customer-/document-shaped
    batches instead of events."""
    from pitlapetl_spark.streaming.runtime import (
        read_events_stream, run_cusum_sink, run_kanonymity_sink,
        run_oov_sink, run_psi_sink, run_sprt_sink,
    )

    if kind in ("kanon", "oov"):
        return _probe_monitor_docs(spark, kind, rows_per_batch, n_batches)

    tmp = tempfile.mkdtemp(prefix="pitlap_mprobe_")
    try:
        src = f"{tmp}/src"
        for b in range(n_batches):
            (spark.range(rows_per_batch)
             .select(
                 (F.col("id") + b * rows_per_batch).alias("event_id"),
                 F.timestamp_micros(
                     (F.lit(1_700_000_000_000_000)
                      + (F.col("id") % 30) * 86_400_000_000
                      + F.col("id") * 1_000)
                 ).alias("ts"),
                 (F.col("id") % 100).alias("user_id"),
                 F.element_at(
                     F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                     (F.col("id") % 3 + 1).cast("int"),
                 ).alias("event_type"),
                 (F.col("id") % 997 * 1.01).alias("value"),
                 F.lit("{}").alias("props"),
             )
             .coalesce(1).write.parquet(f"{src}/b{b}"))
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "event_type string, value double, props string")
                  .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
        t0 = time.perf_counter()
        if kind == "cusum":
            q = run_cusum_sink(stream, f"{tmp}/store", f"{tmp}/ckpt")
        elif kind == "sprt":
            q = run_sprt_sink(stream, f"{tmp}/store", f"{tmp}/ckpt")
        else:
            ref = spark.read.parquet(f"{src}/b0")
            q = run_psi_sink(stream, ref, f"{tmp}/store", f"{tmp}/ckpt")
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
        return {"sink": kind, "rows_per_batch": rows_per_batch,
                "n_batches": n_batches,
                "per_batch_s": round(wall / n_batches, 2)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _probe_monitor_docs(spark, kind: str, rows_per_batch: int, n_batches: int) -> dict:
    from pitlapetl_spark.streaming.runtime import run_kanonymity_sink, run_oov_sink

    tmp = tempfile.mkdtemp(prefix="pitlap_mprobe_")
    try:
        src = f"{tmp}/src"
        for b in range(n_batches):
            base = spark.range(rows_per_batch).select(
                (F.col("id") + b * rows_per_batch).alias("k")
            )
            if kind == "kanon":
                df = base.select(
                    F.col("k").alias("c_custkey"),
                    F.concat(F.lit("cust#"), F.col("k").cast("string")).alias("c_name"),
                    (F.col("k") % 25).cast("int").alias("c_nationkey"),
                    ((F.col("k") % 2000) * 5.5 - 900).alias("c_acctbal"),
                    F.element_at(
                        F.array(*[F.lit(x) for x in
                                  ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY")]),
                        (F.col("k") % 5 + 1).cast("int"),
                    ).alias("c_mktsegment"),
                )
            else:
                words = F.array(*[F.lit(w) for w in
                                  ("alpha", "beta", "gamma", "delta", "epsilon",
                                   "zeta", "eta", "theta")])
                df = base.select(
                    F.col("k").alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.element_at(words, (F.col("k") % 8 + 1).cast("int")),
                        F.element_at(words, (F.col("k") % 7 + 1).cast("int")),
                        F.concat(F.lit("tok"), (F.col("k") % 5000).cast("string")),
                    ).alias("text"),
                    F.lit("en").alias("lang"),
                    F.lit("crawl").alias("source"),
                    F.lit(32).cast("long").alias("n_chars"),
                )
            df.coalesce(1).write.parquet(f"{src}/b{b}")
        schema = spark.read.parquet(f"{src}/b0").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*"))
        t0 = time.perf_counter()
        if kind == "kanon":
            q = run_kanonymity_sink(stream, f"{tmp}/store", f"{tmp}/ckpt")
        else:
            ref = spark.read.parquet(f"{src}/b0")
            q = run_oov_sink(stream, ref, f"{tmp}/store", f"{tmp}/ckpt")
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
        return {"sink": kind, "rows_per_batch": rows_per_batch,
                "n_batches": n_batches,
                "per_batch_s": round(wall / n_batches, 2)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _synth_monitor_batch(spark, kind: str, rows_per_batch: int, b: int):
    """One batch-worth of rows shaped for the given monitor sink
    (events for cusum/psi, customers for kanon, documents for oov) —
    the same synthesis as the flat probes above, factored out for the
    growth probe."""
    base = spark.range(rows_per_batch).select(
        (F.col("id") + b * rows_per_batch).alias("k")
    )
    if kind in ("cusum", "psi"):
        return base.select(
            F.col("k").alias("event_id"),
            F.timestamp_micros(
                (F.lit(1_700_000_000_000_000)
                 + (F.col("k") % 30) * 86_400_000_000
                 + F.col("k") * 1_000)
            ).alias("ts"),
            (F.col("k") % 100).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.col("k") % 3 + 1).cast("int"),
            ).alias("event_type"),
            (F.col("k") % 997 * 1.01).alias("value"),
            F.lit("{}").alias("props"),
        )
    if kind == "kanon":
        return base.select(
            F.col("k").alias("c_custkey"),
            F.concat(F.lit("cust#"), F.col("k").cast("string")).alias("c_name"),
            (F.col("k") % 25).cast("int").alias("c_nationkey"),
            ((F.col("k") % 2000) * 5.5 - 900).alias("c_acctbal"),
            F.element_at(
                F.array(*[F.lit(x) for x in
                          ("AUTOMOBILE", "BUILDING", "FURNITURE",
                           "HOUSEHOLD", "MACHINERY")]),
                (F.col("k") % 5 + 1).cast("int"),
            ).alias("c_mktsegment"),
        )
    words = F.array(*[F.lit(w) for w in
                      ("alpha", "beta", "gamma", "delta", "epsilon",
                       "zeta", "eta", "theta")])
    return base.select(
        F.col("k").alias("doc_id"),
        F.concat_ws(
            " ",
            F.element_at(words, (F.col("k") % 8 + 1).cast("int")),
            F.element_at(words, (F.col("k") % 7 + 1).cast("int")),
            F.concat(F.lit("tok"), (F.col("k") % 5000).cast("string")),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("crawl").alias("source"),
        F.lit(32).cast("long").alias("n_chars"),
    )


def probe_monitor_growth(
    spark, kind: str, rows_per_batch: int, n_batches: int,
    compact_every: int | None = None,
) -> dict:
    """Per-batch wall across N batches for the monitor sinks
    (VERDICT r6 item 6 — the 4-batch probe shows the fixed-size
    partial, this one makes the O(store) growth term visible): each
    iteration appends one source file and re-runs the availableNow
    sink, timing the restart+batch like the dedup store-scan probe.
    The store gains one fixed-size partition per batch, so any upward
    trend in the tail isolates the store-side component (file listing
    + partition append), separating it from the flat batch cost.
    ``compact_every`` passes through to the sink (all six monitor
    sinks now fold committed partitions into generation partitions —
    VERDICT r8 item 5); probing default vs an aggressive setting
    shows the compacted steady state stays flat."""
    from pitlapetl_spark.streaming.runtime import (
        run_cms_sink, run_cusum_sink, run_kanonymity_sink,
        run_oov_sink, run_psi_sink, run_sprt_sink,
    )

    kw = {} if compact_every is None else {"compact_every": compact_every}
    tmp = tempfile.mkdtemp(prefix="pitlap_gprobe_")
    try:
        src = f"{tmp}/src"
        synth_kind = kind if kind in ("kanon", "oov") else "cusum"
        ref = _synth_monitor_batch(spark, synth_kind, rows_per_batch, 0)
        sinks = {
            "psi": lambda s: run_psi_sink(
                s, ref, f"{tmp}/store", f"{tmp}/ckpt", **kw),
            "kanon": lambda s: run_kanonymity_sink(
                s, f"{tmp}/store", f"{tmp}/ckpt", **kw),
            "oov": lambda s: run_oov_sink(
                s, ref, f"{tmp}/store", f"{tmp}/ckpt", **kw),
            "cms": lambda s: run_cms_sink(
                s, f"{tmp}/store", f"{tmp}/ckpt", **kw),
            "cusum": lambda s: run_cusum_sink(
                s, f"{tmp}/store", f"{tmp}/ckpt", **kw),
            "sprt": lambda s: run_sprt_sink(
                s, f"{tmp}/store", f"{tmp}/ckpt", **kw),
        }
        per_batch = []
        for b in range(n_batches):
            (_synth_monitor_batch(spark, synth_kind, rows_per_batch, b)
             .coalesce(1).write.mode("append").parquet(src))
            schema = spark.read.parquet(src).schema
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(src))
            t0 = time.perf_counter()
            q = sinks[kind](stream)
            q.awaitTermination(600)
            per_batch.append(round(time.perf_counter() - t0, 3))
        return {
            "sink": kind,
            "rows_per_batch": rows_per_batch,
            "compact_every": compact_every,
            "per_batch_sec": per_batch,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    spark = get_spark(
        app_name="pitlapetl_streaming_probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--dedup-batches", type=int, default=4)
    ap.add_argument("--dedup-only", action="store_true")
    ap.add_argument("--monitor-growth", type=int, default=0,
                    help="run the monitor-sink growth probe to N batches")
    ap.add_argument("--growth-kinds", nargs="+",
                    default=["psi", "kanon", "oov"],
                    help="sinks for the growth probe (any of psi kanon "
                         "oov cms cusum sprt)")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="pass an aggressive compaction cadence through "
                         "to the growth-probe sinks")
    ap.add_argument("--url-batches", type=int, default=0,
                    help="run the URL ingest long-run probe to N batches")
    ap.add_argument("--span-batches", type=int, default=0,
                    help="run the span-dedup ingest long-run probe to N "
                         "batches")
    ap.add_argument("--pipeline-batches", type=int, default=0,
                    help="run the composed crawl-ingest chain probe "
                         "(URL gate -> span cut -> minhash) to N batches")
    ap.add_argument("--span-docs", type=int, default=100,
                    help="docs per batch for the span probe (scale the "
                         "store mass independently of batch count)")
    ap.add_argument("--pipeline-requant", type=int, default=None,
                    help="pipeline probe: enable the semantic stage's "
                         "corpus-sized quantizer with this target "
                         "cluster size (vectors per cluster)")
    ap.add_argument("--sem-mass-batches", type=int, default=0,
                    help="run the semantic candidate-mass A/B probe "
                         "to N batches")
    ap.add_argument("--sem-mass-vecs", type=int, default=2_000,
                    help="vectors per batch for the mass probe")
    ap.add_argument("--sem-mass-requant", type=int, default=None,
                    help="mass probe: corpus-sized quantizer target "
                         "cluster size (None = frozen K)")
    args = ap.parse_args()

    if args.sem_mass_batches:
        print(
            f"semantic candidate-mass probe ({args.sem_mass_batches} "
            f"batches x {args.sem_mass_vecs} vecs, "
            f"requant={args.sem_mass_requant}):"
        )
        print("  ", probe_semantic_mass(
            spark, args.sem_mass_vecs, args.sem_mass_batches,
            compact_every=args.compact_every or 8,
            requant_target=args.sem_mass_requant))
        return

    if args.url_batches:
        print(f"url ingest long-run probe ({args.url_batches} batches):")
        print("  ", probe_url_ingest(
            spark, 2_000, args.url_batches,
            compact_every=args.compact_every or 8))
        return
    if args.pipeline_batches:
        print(
            f"composed ingest pipeline long-run probe "
            f"({args.pipeline_batches} batches x {args.span_docs} docs):"
        )
        print("  ", probe_pipeline_ingest(
            spark, args.span_docs, args.pipeline_batches,
            compact_every=args.compact_every or 8,
            requant_target=args.pipeline_requant))
        return
    if args.span_batches:
        print(
            f"span-dedup ingest long-run probe ({args.span_batches} "
            f"batches x {args.span_docs} docs):"
        )
        print("  ", probe_span_ingest(
            spark, args.span_docs, args.span_batches,
            compact_every=args.compact_every or 8))
        return

    if args.monitor_growth:
        print(f"monitor-sink growth probe ({args.monitor_growth} batches):")
        for kind in args.growth_kinds:
            print("  ", probe_monitor_growth(
                spark, kind, 10_000, args.monitor_growth,
                compact_every=args.compact_every))
        return

    if not args.dedup_only:
        print("scoped upsert sink (each batch its own partition; table grows):")
        for rows in (1_000, 10_000, 100_000):
            print("  ", probe_scoped_upsert(spark, rows, n_batches=4))
    print("monitor sinks (fixed-size partials; expect flat):")
    for kind in ("cusum", "psi", "kanon", "oov"):
        for rows in (10_000, 100_000):
            print("  ", probe_monitor_sink(spark, kind, rows, n_batches=4))
    print("dedup ingest sink (store grows per batch):")
    for docs in (100, 500):
        print("  ", probe_dedup_ingest(spark, docs, n_batches=args.dedup_batches))


if __name__ == "__main__":
    main()
