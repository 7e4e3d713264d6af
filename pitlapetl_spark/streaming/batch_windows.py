"""Time-window aggregations over ``events`` — batch form of the
streaming operators (SURVEY.md §2.12), oracle-checked.

``F.window`` / ``F.session_window`` are the same expressions a
Structured Streaming plan uses; running them over the static events
table pins down their semantics against DuckDB, and
streaming/runtime.py reuses the identical aggregation bodies
incrementally. Window starts are epoch-aligned (Spark's contract), so
the oracles compute bucket starts with integer epoch arithmetic
rather than DuckDB's Monday-anchored time_bucket.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import partial, reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.breadth7d import _WILSON_Z, wilson_bounds
from ..registry import query
from ..session import run_in_driver_threads
from ..sources import load_table
from .store import _compact_partition_store, numbered_dirs

DAY_S = 86400
SESSION_GAP = "4 hours"
SESSION_GAP_SQL = "INTERVAL 4 HOUR"


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {DAY_S}) * {DAY_S} AS BIGINT)) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(CAST(floor(epoch(ts) / {DAY_S}) * {DAY_S} + {DAY_S} AS BIGINT)) AS TIMESTAMP) AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event_type: the canonical streaming
    aggregate (readStream + withWatermark + this exact groupBy). One
    shuffle on (window, event_type); map-side partial agg makes the
    shuffle payload one row per (day, type) per task regardless of
    event volume."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding_avg",
    oracle=f"""
    WITH slid AS (
        SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {DAY_S}) * {DAY_S} - k * {DAY_S} AS BIGINT)) AS TIMESTAMP) AS window_start,
               value
        FROM events, unnest([0, 1]) AS t(k)
    )
    SELECT window_start,
           window_start + INTERVAL 2 DAY AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM slid
    GROUP BY 1, 2
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-day length, 1-day slide): every event lands
    in exactly 2 windows. Spark expands the window list per row
    map-side (no self-join); the oracle mirrors that expansion with an
    explicit unnest of slide offsets."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "stream_session_windows",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= {SESSION_GAP_SQL}
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + {SESSION_GAP_SQL} AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (4-hour inactivity gap) per user — Spark's
    ``session_window`` merges events map-side then combines across
    partitions; the oracle restates it as gaps-and-islands. Session
    end is last-event + gap (Spark's contract)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_ohlc_candles",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / {DAY_S}) AS BIGINT) AS bucket,
               ts, event_id, value
        FROM events
    ),
    r AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY user_id, bucket
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY user_id, bucket
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM e
    )
    SELECT CAST(to_timestamp(bucket * {DAY_S}) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(bucket * {DAY_S} + {DAY_S}) AS TIMESTAMP) AS window_end,
           user_id,
           max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
           max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
           max(value) AS high_v,
           min(value) AS low_v,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS volume
    FROM r
    GROUP BY 1, 2, 3
    """,
)
def stream_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle resampling: per (user, day) the opening value
    (first by (ts, event_id)), closing value (last), high, low, event
    count and summed volume — the financial/metrics downsampling
    shape. The open/close are ARGMIN/ARGMAX via one struct min/max
    ((ts, event_id, value): the unique (ts, event_id) prefix decides,
    value rides along) — so the whole candle is ONE hash aggregate
    with full map-side combine, no sort window and no per-day sort
    anywhere; the oracle independently derives open/close with
    row_number windows. F.window('1 day') is the same expression a
    readStream plan uses, so this exact aggregation body runs
    incrementally under a watermark (the module contract;
    test_streaming runs it as a real stream and compares).

    100-TB shape: one shuffle on (window, user) with candle-sized
    payload per partial; struct argmin/argmax keeps first/last out of
    the window-function path that would force a per-key sort."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(
            F.min(F.struct("ts", "event_id", "value")).getField("value").alias("open_v"),
            F.max(F.struct("ts", "event_id", "value")).getField("value").alias("close_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("volume"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "open_v",
            "close_v",
            "high_v",
            "low_v",
            "n_events",
            "volume",
        )
    )


# ------------------------------- daily error rate w/ Wilson bounds
# The SRE monitor shape of dq_error_rate_wilson (breadth7d.py), as a
# stream-capable windowed aggregate: counts are plain windowed sums
# (incrementally maintainable), the Wilson interval is a derived
# projection AFTER the aggregate — so the identical body runs under
# a watermark (runtime.error_rate_wilson_stream; test_streaming
# asserts bit-equality stream vs batch). The day-grain twin of the
# date-keyed batch query, keyed on the streaming F.window instead of
# the calendar string so late data merges into the right pane. The
# interval columns are breadth7d.wilson_bounds, the batch query's own.


def wilson_error_rate_agg(events: DataFrame) -> DataFrame:
    """Shared aggregation body: per 1-day event-time window, total
    and error counts plus the Wilson 95% interval. Pure windowed
    counts + post-agg projection — streaming-supported with no custom
    state; the watermark (added by the stream caller) bounds pane
    state."""
    agged = events.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("k"),
    )
    return agged.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n",
        "k",
        *wilson_bounds(),
    )


@query(
    "stream_error_rate_wilson",
    oracle=f"""
    WITH d AS (
        SELECT CAST(floor(epoch(ts) / {DAY_S}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                    AS BIGINT) AS k
        FROM events GROUP BY 1
    )
    SELECT CAST(to_timestamp(bucket * {DAY_S}) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(bucket * {DAY_S} + {DAY_S}) AS TIMESTAMP)
               AS window_end,
           n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS error_rate,
           round((CAST(k AS DOUBLE) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  - {_WILSON_Z} * sqrt(CAST(k AS DOUBLE) / n
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z}
                          / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6)
               AS wilson_lo,
           round((CAST(k AS DOUBLE) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  + {_WILSON_Z} * sqrt(CAST(k AS DOUBLE) / n
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {_WILSON_Z} * {_WILSON_Z}
                          / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6)
               AS wilson_hi
    FROM d
    """,
)
def stream_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed daily error rate with Wilson bounds — the batch twin
    of runtime.error_rate_wilson_stream (block comment above)."""
    events = load_table(spark, sf_dir, "events")
    return wilson_error_rate_agg(events)


# ------------------------------------ shared ingest-parity helpers
# One implementation each of the steps the five parity queries below
# share: the compaction crash drill, the id-ordered micro-batch
# driver, the pre-vs-post-compaction fold parity and the
# stream-vs-batch mismatch count.


def _compact_with_crash_leftover(
    spark: SparkSession, store: str, current_batch: int
) -> int:
    """The compaction crash drill of the parity queries: fold every
    committed partition into a generation (steady state), restore the
    lowest pre-fold partition as a crash-window leftover (its rows now
    live in both the generation and the source, the write-then-delete
    gap), and heal it with a second fold, whose full-row dedup must
    drop the copy. The capture/fold/restore/fold ORDER is
    load-bearing, which is why it lives here once. Returns the store's
    partition count after the heal."""
    written = numbered_dirs(store)
    # the leftover must be a NON-final partition the ingest loop
    # actually WROTE (an empty batch writes no directory)
    assert len(written) >= 2, f"parity drill: under 2 partitions in {store}"
    leftover_path = written[min(written)]
    leftover = spark.read.parquet(leftover_path).localCheckpoint(eager=True)
    _compact_partition_store(spark, store, current_batch, threshold=2)
    leftover.write.mode("overwrite").parquet(leftover_path)
    _compact_partition_store(spark, store, current_batch + 1, threshold=1)
    return len(numbered_dirs(store))


def _run_pipelined_stages(stages, n_batches: int) -> None:
    """Run a chained multi-stage ingest simulation with one driver
    thread per stage: stage s processes its batches strictly in
    order, and batch i of stage s starts only after batch i of stage
    s-1 finished (the corpus-partition handoff). Equivalent to the
    sequential nested loop — same writes, same order within every
    store — but the per-batch driver floors of different stages
    overlap (guide §2.6). On any stage failure every downstream wait
    is released and the first error re-raised."""
    import threading

    done = [
        [threading.Event() for _ in range(n_batches)] for _ in stages
    ]
    failed: list[int] = []

    def runner(s: int) -> None:
        try:
            for i in range(n_batches):
                if s > 0:
                    done[s - 1][i].wait()
                if failed:
                    return
                stages[s](i)
                done[s][i].set()
        except BaseException:
            failed.append(s)
            raise
        finally:
            # release downstream waiters even on failure/early return
            for ev in done[s]:
                ev.set()

    run_in_driver_threads(lambda s=s: runner(s) for s in range(len(stages)))


def _drive_id_ordered(
    src: DataFrame, id_col: str, n_batches: int, ingest, *downstream
) -> None:
    """Feed ``src`` to ``ingest(batch_df, i)`` as ``n_batches``
    micro-batches of consecutive ``id_col`` ranges, and run each
    ``downstream`` stage as ``stage(i)`` after the stage before it
    finished batch ``i`` (``_run_pipelined_stages``). Arrival order
    must equal id order for the stream-vs-batch equivalence (each
    query's block comment). An empty source raises ValueError: every
    parity query needs a non-empty fixture."""
    # One eager lineage cut of the source before the loop: every
    # per-batch action (the sink body's isEmpty take, its lazy
    # checkpoint compiles, its writes) otherwise re-analyzes and
    # re-scans the full source lineage — for the URL and pipeline
    # queries that is the deep derived_raw_url expression tree, once
    # per batch (guide §1.2 fewer passes; profiled as the lifecycle
    # queries' inter-action driver floor). The cut happens INSIDE the
    # timed query, computed fresh from parquet per invocation.
    src = src.localCheckpoint(eager=True)
    # the max-id scalar is a bounded one-row collect
    max_id = src.agg(F.max(id_col)).collect()[0][0]
    if max_id is None:
        raise ValueError(
            f"ingest-parity driver: source has no rows (max({id_col}) "
            "is NULL) — every parity query needs a non-empty fixture"
        )
    # integer ceil((max_id + 1) / n_batches) — exact on both engines
    # (the pipeline oracle's wd CTE)
    width = (max_id + n_batches) // n_batches

    def first(i: int) -> None:
        ids = F.col(id_col)
        ingest(src.filter((ids >= i * width) & (ids < (i + 1) * width)), i)

    _run_pipelined_stages([first, *downstream], n_batches)


def _drive_compacted_ingest(
    spark: SparkSession,
    src: DataFrame,
    id_col: str,
    make_ingest,
    n_batches: int,
    twin,
    read_corpus: bool = False,
):
    """Shared harness of the semantic, URL and span parity queries:
    drive a sink's real per-batch body over id-ordered micro-batches
    of ``src`` (``_drive_id_ordered``), then run the compaction crash
    drill (``_compact_with_crash_leftover``). ``make_ingest`` is the
    sink's body factory, called as ``(store_path, corpus_path,
    compact_every)``.

    ``twin()`` builds the batch side the stream is compared against.
    It is independent of the ingest loop, whose wall is mostly
    single-threaded driver work (per-batch Catalyst analysis, store
    listings) that leaves the executors idle, so it runs on a second
    driver thread (``run_in_driver_threads``) and hides almost
    entirely (guide §2.6 overlap independent jobs).

    Returns (twin, pre, after, corpus, n_parts): the batch side, the
    store read minus the partition column before/after compaction,
    the corpus read (None unless ``read_corpus`` — the semantic query
    never reads its corpus, and materializing it would change that
    query's measured work), and the post-heal partition count. Every
    returned frame is eagerly materialized (localCheckpoint) so
    callers keep using them after the temp dir is removed."""
    def read(path: str) -> DataFrame:
        return spark.read.parquet(path).drop("batch").localCheckpoint(eager=True)

    root = tempfile.mkdtemp(prefix="pitlap_ingest_parity_")
    store, corpus_path = f"{root}/store", f"{root}/corpus"

    def ingest_and_compact():
        # compaction off mid-run: the crash drill below owns it
        ingest = make_ingest(store, corpus_path, 10 * n_batches)
        _drive_id_ordered(src, id_col, n_batches, ingest)
        pre = read(store)
        n_parts = _compact_with_crash_leftover(spark, store, n_batches)
        return pre, read(store), read(corpus_path) if read_corpus else None, n_parts

    try:
        batch, stream = run_in_driver_threads(
            [lambda: twin().localCheckpoint(eager=True), ingest_and_compact]
        )
        return (batch, *stream)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _parity_fold(pre: DataFrame, after: DataFrame, grain, **aggs) -> DataFrame:
    """Pre-vs-post-compaction parity of a store: fold both sides with
    ``aggs`` ({output name: aggregate}) per ``grain`` column and join
    the folds on it. A row carries the grain, the after-side
    aggregates and ``compacted_parity``. An empty grain folds each
    side to one row.

    FULL OUTER join: an inner join would
    silently DROP a group compaction lost entirely (the after fold has
    no row for it) and every surviving row would still read
    parity=true — whole-group loss must instead surface as a row with
    the after-side aggregates zeroed and compacted_parity=false.
    eqNullSafe makes a one-sided null fail the equality instead of
    null-propagating to a null flag."""

    def fold(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(*grain).agg(
            *[agg.alias(prefix + name) for name, agg in aggs.items()]
        )

    after_f, pre_f = fold(after, ""), fold(pre, "pre_")
    joined = (
        after_f.join(pre_f, grain, "full")
        if grain
        else after_f.crossJoin(F.broadcast(pre_f))
    )
    parity = reduce(
        and_, [F.col(n).eqNullSafe(F.col(f"pre_{n}")) for n in aggs]
    )
    return joined.select(
        *grain,
        *[F.coalesce(name, F.lit(0)).alias(name) for name in aggs],
        parity.alias("compacted_parity"),
    )


def _mismatch_count(
    stream: DataFrame, batch: DataFrame, key: str, *payload
) -> DataFrame:
    """One-row frame of ``n_mismatch``: the distinct ``key`` values
    present on one side only, or whose ``payload`` columns differ
    (NULL-safe), between the stream's output and its batch twin. Zero
    is stream-vs-batch parity."""

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            key, F.lit(1).alias(tag), *[F.col(c).alias(tag + c) for c in payload]
        ).distinct()

    same = reduce(
        and_,
        [F.col(f"_s{c}").eqNullSafe(F.col(f"_b{c}")) for c in payload],
        F.col("_s").isNotNull() & F.col("_b").isNotNull(),
    )
    return (
        side(stream, "_s")
        .join(side(batch, "_b"), key, "full")
        .agg(F.count(F.when(~same, 1)).alias("n_mismatch"))
    )


# ----------------------- pHash ingest-store compaction parity
# VERDICT r8 item 5 extension, registered as a query: the media
# ingest sink's BAND STORE now folds committed batch partitions into
# generation partitions (_compact_partition_store — store.py), and
# this query PROVES the fold is content-preserving at the driver's
# value-hash level. It simulates the sink's store lifecycle with the
# real production pieces — phash_frame / phash_band_rows build the
# band rows, a deterministic doc_id split plays the role of
# micro-batches, the actual compactor folds them (twice: once for the
# steady state, once to heal a simulated crash-window leftover whose
# rows already live in the generation) — then folds the compacted
# store to a per-band grain the DuckDB oracle recomputes STRAIGHT
# from documents, never having seen a store at all. Any row the
# compaction lost or duplicated flips a count or sum; the oracle's
# literal TRUE parity column additionally pins the Spark-side
# pre-write vs post-compaction comparison.
#
# 100-TB shape: the store writes are batch-partitioned parquet (the
# sink's own layout); compaction reads only committed partitions and
# rewrites once per threshold crossing (amortized O(1) per batch —
# SCALE.md probe table); the parity fold is one 4-group aggregation.

N_SIM_INGEST_BATCHES = 5


def _phash_parity_oracle() -> str:
    from ..operators.multimodal import PHASH_BANDS, phash_hash_cte

    return f"""
    WITH {phash_hash_cte()},
    bands AS (
        SELECT h.doc_id, h.phash, CAST(t.band_id AS INT) AS band_id,
               (h.phash >> CAST(8 * t.band_id AS INT)) & 255 AS band_val
        FROM h CROSS JOIN range({PHASH_BANDS}) t(band_id)
    )
    SELECT band_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT band_val) AS BIGINT) AS n_band_vals,
           CAST(sum(phash) AS BIGINT) AS sum_phash,
           CAST(1 AS INT) AS store_partitions,
           TRUE AS compacted_parity
    FROM bands GROUP BY band_id
    """


@query("stream_phash_compacted_parity", oracle=_phash_parity_oracle())
def stream_phash_compacted_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write the pHash band store as N simulated ingest batches, run
    the real compactor (plus a crash-leftover heal pass), and return
    the per-band fold of the compacted store alongside a parity
    check against the pre-write frame (block comment above)."""
    from ..operators.multimodal import phash_band_rows, phash_frame

    docs = load_table(spark, sf_dir, "documents")
    bands = phash_band_rows(phash_frame(docs)).localCheckpoint(eager=True)

    root = tempfile.mkdtemp(prefix="pitlap_phash_parity_")
    store = f"{root}/store"
    try:
        batched = bands.withColumn(
            "b", F.pmod(F.col("doc_id"), F.lit(N_SIM_INGEST_BATCHES))
        )
        # all N simulated batch partitions in ONE write job (the
        # filtered per-batch loop re-scanned the checkpointed band
        # frame N times and paid N job floors for the same bytes);
        # partitionBy lays out the identical batch=<i> directories the
        # real sink's per-batch overwrite produces, except the
        # _SUCCESS commit marker lands at the ROOT — seal each batch
        # dir explicitly so the real compactor sees the same N
        # committed partitions the sequential writes produced
        batched.withColumnRenamed("b", "batch").write.partitionBy(
            "batch"
        ).mode("overwrite").parquet(store)
        for p in numbered_dirs(store).values():
            open(f"{p}/_SUCCESS", "w").close()
        n_parts = _compact_with_crash_leftover(
            spark, store, N_SIM_INGEST_BATCHES
        )
        result = _parity_fold(
            bands,
            spark.read.parquet(store).drop("batch"),
            ["band_id"],
            n_rows=F.count(F.lit(1)).cast("long"),
            n_docs=F.countDistinct("doc_id").cast("long"),
            n_band_vals=F.countDistinct("band_val").cast("long"),
            sum_phash=F.sum("phash").cast("long"),
        ).select(
            "band_id",
            "n_rows",
            "n_docs",
            "n_band_vals",
            "sum_phash",
            F.lit(n_parts).cast("int").alias("store_partitions"),
            "compacted_parity",
        )
        # materialize before the temp dir is removed (the standing
        # roundtrip-query device, sinks_query.py)
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ----------------- semantic ingest-store stream-vs-batch parity
# VERDICT r9 item 3, registered as a query: the embedding/semantic
# streaming ingest sink (runtime.run_semantic_ingest_sink — the third
# member of the crawl-ingest dedup family) must flag EXACTLY the
# vectors the batch dedup_semantic_top2 query flags on the same
# corpus, and its assignment store must read identically before and
# after generation compaction. This query drives the sink's real
# per-batch body (_semantic_ingest_batch — the same function
# foreachBatch runs) over the embeddings table split into id-ordered
# micro-batches, runs the real compactor twice (steady state + a
# simulated crash-window leftover whose rows already live in the
# generation), then folds the compacted store to a per-label grain
# the DuckDB oracle recomputes STRAIGHT from embeddings — the oracle
# never sees a store, a batch boundary, or a compaction. Any drop
# the stream makes that batch SemDeDup would not (or vice versa)
# flips n_dropped / sum_dropped_ids; any row compaction lost or
# duplicated flips n_rows; the two literal-TRUE parity columns
# additionally pin the Spark-side set comparisons.
#
# Why stream == batch holds EXACTLY (not approximately): the sink
# stores assignment rows for ALL ingested vectors (kept and dropped)
# and drops a vector iff some earlier-arrived vector shares a top-2
# cluster with cosine >= tau; with id-ordered batches
# "earlier-arrived" = "lower vec_id", which is precisely the batch
# twin's pair orientation (vec_a < vec_b), and both sides share the
# same quantizer frame, the same rank_against_centroids scorer, the
# same round-6 cosine, and the same tau — see the design block in
# streaming/runtime.py.
#
# 100-TB shape: the simulation is store-lifecycle-bound (the sink's
# own batch-partitioned parquet layout + amortized-O(1) compaction);
# the parity fold is one aggregation at the label grain.

N_SEM_INGEST_BATCHES = 3


def _semantic_parity_oracle() -> str:
    # the pair/score chain is SHARED with dedup_semantic_top2's
    # oracle (similarity.semdedup_pair_ctes) so this oracle always
    # tests the same batch contract the stream is compared against
    # (round-10 review catch: a hand-copied twin could be retuned on
    # one side only)
    from ..operators.similarity import (
        SEMDEDUP_TAU,
        _ORACLE_CRANK,
        _ORACLE_VECS,
        semdedup_pair_ctes,
    )

    return f"""
    WITH {_ORACLE_VECS},
    {_ORACLE_CRANK},
    {semdedup_pair_ctes(2)},
    dropped AS (
        SELECT DISTINCT vec_b AS vec_id
        FROM scored WHERE cosine >= {SEMDEDUP_TAU}
    )
    SELECT a.label,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT a.vec_id) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT CASE WHEN d.vec_id IS NOT NULL
                                    THEN a.vec_id END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL
                         THEN a.vec_id ELSE 0 END) AS BIGINT)
               AS sum_dropped_ids,
           CAST(1 AS INT) AS store_partitions,
           TRUE AS stream_batch_parity,
           TRUE AS compacted_parity
    FROM assignm a LEFT JOIN dropped d USING (vec_id)
    GROUP BY 1
    """


@query("stream_semantic_compacted_parity", oracle=_semantic_parity_oracle())
def stream_semantic_compacted_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the semantic ingest sink's real batch body over
    id-ordered micro-batches of the embeddings table, compact the
    assignment store (steady state + crash-leftover heal), and return
    the per-label fold of the compacted store alongside stream-vs-
    batch and pre-vs-post-compaction parity checks (block comment
    above)."""
    from ..operators.similarity import (
        _centroid_frame,
        dedup_semantic_top2,
    )
    from .runtime import _semantic_ingest_batch

    b_drop, pre, after, _, n_parts = _drive_compacted_ingest(
        spark,
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        partial(_semantic_ingest_batch, _centroid_frame(spark, sf_dir)),
        N_SEM_INGEST_BATCHES,
        twin=lambda: dedup_semantic_top2(spark, sf_dir).select(
            F.col("vec_b").alias("vec_id")
        ),
    )
    # stream-vs-batch drop-set equality: the symmetric difference of
    # the two vec_id sets must be empty
    mism = _mismatch_count(after.filter(~F.col("kept")), b_drop, "vec_id")
    ndrop = F.when(~F.col("kept"), F.col("vec_id"))
    result = (
        _parity_fold(
            pre,
            after,
            ["label"],
            n_rows=F.count(F.lit(1)).cast("long"),
            n_docs=F.countDistinct("vec_id").cast("long"),
            n_dropped=F.countDistinct(ndrop).cast("long"),
            sum_dropped_ids=F.sum(F.coalesce(ndrop, F.lit(0))).cast("long"),
        )
        .crossJoin(F.broadcast(mism))
        .select(
            "label",
            "n_rows",
            "n_docs",
            "n_dropped",
            "sum_dropped_ids",
            F.lit(n_parts).cast("int").alias("store_partitions"),
            (F.col("n_mismatch") == 0).alias("stream_batch_parity"),
            "compacted_parity",
        )
    )
    # the inputs are all eagerly materialized by the harness (the
    # standing roundtrip-query device); checkpoint the result too so
    # the benched materialization cost stays where it always was
    return result.localCheckpoint(eager=True)


# --------------- URL ingest-store stream-vs-batch parity
# VERDICT r10 item 5a, registered as a query: the streaming URL
# front-door sink (runtime.run_url_ingest_sink — the fourth
# crawl-ingest family member, and the one a real crawl runs FIRST)
# must keep EXACTLY the documents the batch URL gate
# (text_url_canonicalize_gate) keeps on the same corpus, and its
# seen-URL store must read identically before and after generation
# compaction. Same harness shape as the semantic parity query: drive
# the sink's real per-batch body over id-ordered micro-batches, run
# the real compactor twice (steady state + a crash-window leftover
# heal), fold the compacted store and the corpus to the site grain,
# and compare against a DuckDB oracle that recomputes the kept set
# STRAIGHT from the batch gate's shared CTE chain
# (operators/webgate.py GATE_CTES — one chain, two consumers, so the
# stream is always compared against exactly the batch contract).
#
# Why stream == batch holds EXACTLY: the sink keeps the FIRST-SEEN
# canonical URL (intra-batch: lowest doc_id wins the window;
# cross-batch: earlier-arrived store rows win the anti-join), and
# with id-ordered batches "first-seen" = "lowest doc_id among
# unblocked members of the canonical group" — precisely the batch
# gate's keep rule. Both sides share canonicalize_url/extract_site
# (Spark) against the SAME oracle CTE chain the batch gate is
# value-checked with, so neither canonicalization nor gating can
# drift between the twins.
#
# 100-TB shape: the simulation is store-lifecycle-bound (the sink's
# batch-partitioned parquet layout + amortized-O(1) compaction); the
# parity fold is one aggregation at the site grain; the sink itself
# never shuffles the store (broadcast semi/anti probe — the sink's
# block comment).

N_URL_INGEST_BATCHES = 3


def _url_parity_oracle() -> str:
    from ..operators.webgate import GATE_CTES

    return f"""
    WITH {GATE_CTES},
    kept AS (
        SELECT doc_id, url_canon, site FROM flagged
        WHERE NOT is_blocked AND NOT is_dup
    )
    SELECT site,
           CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
           CAST(1 AS INT) AS store_partitions,
           TRUE AS stream_batch_parity,
           TRUE AS compacted_parity
    FROM kept GROUP BY 1
    """


@query("stream_url_gate_compacted_parity", oracle=_url_parity_oracle())
def stream_url_gate_compacted_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the URL ingest sink's real batch body over id-ordered
    micro-batches of the documents table (raw URLs derived exactly
    as the batch gate derives them), compact the seen-URL store
    (steady state + crash-leftover heal), and return the per-site
    fold of the compacted store and corpus alongside stream-vs-batch
    and pre-vs-post-compaction parity checks (block comment
    above)."""
    from ..operators.webgate import (
        derived_raw_url,
        text_url_canonicalize_gate,
    )
    from .runtime import _url_ingest_batch

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", derived_raw_url().alias("url_raw")
    )
    b_kept, pre, after, corpus, n_parts = _drive_compacted_ingest(
        spark,
        docs,
        "doc_id",
        _url_ingest_batch,
        N_URL_INGEST_BATCHES,
        twin=lambda: text_url_canonicalize_gate(spark, sf_dir)
        .filter(F.col("kept"))
        .select("doc_id"),
        read_corpus=True,
    )
    # stream-vs-batch kept-set equality: the symmetric difference of
    # the corpus doc_ids and the batch gate's kept doc_ids must be
    # empty
    mism = _mismatch_count(corpus, b_kept, "doc_id")
    # corpus fold at the site grain (n_kept): the store fold
    # supplies n_urls/sum_kept_ids — two independent artifacts
    # cross-checking each other
    corp = corpus.groupBy("site").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    result = (
        _parity_fold(
            pre,
            after,
            ["site"],
            n_urls=F.countDistinct("url_canon").cast("long"),
            n_rows=F.count(F.lit(1)).cast("long"),
            sum_ids=F.sum("doc_id").cast("long"),
        )
        .join(corp, "site", "full")
        .crossJoin(F.broadcast(mism))
        .select(
            "site",
            "n_urls",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.col("sum_ids").alias("sum_kept_ids"),
            F.lit(n_parts).cast("int").alias("store_partitions"),
            (F.col("n_mismatch") == 0).alias("stream_batch_parity"),
            "compacted_parity",
        )
    )
    # inputs eagerly materialized by the harness; checkpoint the
    # result too (the standing roundtrip-query device)
    return result.localCheckpoint(eager=True)


# --------------- span-dedup ingest stream-vs-batch parity
# The fifth crawl-ingest family member's parity query: the streaming
# exact-substring cut (runtime.run_span_dedup_ingest_sink) must
# produce EXACTLY the cleaned corpus the batch Lee-et-al apply
# (dedup_repeated_spans_apply) produces on the same documents, and
# its first-seen gram store must read identically before and after
# generation compaction. Same harness shape as the semantic and URL
# parity queries: drive the sink's real per-batch body over
# id-ordered micro-batches, run the real compactor twice (steady
# state + crash-leftover heal), and compare the per-doc cleaned
# output against a DuckDB oracle built from the SAME CTE chain as
# the batch apply's oracle (dedup.SPAN_APPLY_CTES — one chain, two
# consumers).
#
# Why stream == batch holds EXACTLY: the batch rule cuts every
# occurrence of a repeated gram except the first by (doc_id, pos);
# the first occurrence is NEVER cut, so the batch-0 output cannot
# depend on batches it hasn't seen, and with id-ordered arrival
# "earlier occurrence exists" (the stream's cut test: rn > 1 within
# the batch, or gram in the store) is precisely "row_number over
# (doc_id, pos) > 1" globally. Hash note: the sink grams with
# xxhash64 (production), the oracle replays the md5 chain — cut
# decisions are a function of gram equality only (the repeated-spans
# twin argument), and the compared artifact is the cleaned TOKEN
# TEXT, which is hash-independent.
#
# 100-TB shape: store rows ~ corpus distinct grams (the known
# suffix-array-class cost of exact-substring dedup); the sink never
# shuffles the store (broadcast gram-key probe); the parity compare
# is one full-outer join at the doc grain.

N_SPAN_INGEST_BATCHES = 3


def _span_parity_oracle() -> str:
    from ..operators.dedup import SPAN_APPLY_CTES

    return f"""
    WITH {SPAN_APPLY_CTES}
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens_before,
           coalesce(c.n_tokens_after, 0) AS n_tokens_after,
           coalesce(n.n_spans_cut, 0) AS n_spans_cut,
           md5(coalesce(c.cleaned_text, '')) AS cleaned_fp,
           CAST(1 AS INT) AS store_partitions,
           TRUE AS stream_batch_parity,
           TRUE AS compacted_parity
    FROM toks tk
    LEFT JOIN cleaned c ON c.doc_id = tk.doc_id
    LEFT JOIN nspans n ON n.doc_id = tk.doc_id
    """


@query("stream_span_dedup_compacted_parity", oracle=_span_parity_oracle())
def stream_span_dedup_compacted_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the span-dedup ingest sink's real batch body over
    id-ordered micro-batches of the documents table, compact the
    first-seen gram store (steady state + crash-leftover heal), and
    return the per-doc cleaned fold alongside stream-vs-batch and
    pre-vs-post-compaction parity checks (block comment above)."""
    from ..operators.dedup import dedup_repeated_spans_apply
    from .runtime import _span_ingest_batch

    batch_out, pre, after, corpus, n_parts = _drive_compacted_ingest(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        _span_ingest_batch,
        N_SPAN_INGEST_BATCHES,
        twin=lambda: dedup_repeated_spans_apply(spark, sf_dir),
        read_corpus=True,
    )
    # one-row scalar fold of the gram store (no small natural grain
    # exists on a gram store; sums are DECIMAL so long hash values
    # cannot overflow)
    comp = _parity_fold(
        pre,
        after,
        [],
        n_rows=F.count(F.lit(1)).cast("long"),
        n_g=F.countDistinct("g").cast("long"),
        sum_g=F.sum(F.col("g").cast("decimal(38,0)")),
        sum_doc=F.sum("doc_id").cast("long"),
        sum_pos=F.sum("pos").cast("long"),
    ).select("compacted_parity")
    # stream-vs-batch cleaned-corpus equality over every output column
    mism = _mismatch_count(
        corpus,
        batch_out,
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        "n_spans_cut",
        "cleaned_text",
    )
    result = (
        corpus.crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(comp))
        .select(
            "doc_id",
            "n_tokens_before",
            "n_tokens_after",
            "n_spans_cut",
            F.md5("cleaned_text").alias("cleaned_fp"),
            F.lit(n_parts).cast("int").alias("store_partitions"),
            (F.col("n_mismatch") == 0).alias("stream_batch_parity"),
            "compacted_parity",
        )
    )
    # inputs eagerly materialized by the harness; checkpoint the
    # result too (the standing roundtrip-query device)
    return result.localCheckpoint(eager=True)


# --------------- composed crawl-ingest pipeline stream-vs-batch parity
# The five crawl-ingest sinks are each proven in isolation; a real
# 100-TB pipeline CHAINS them, and ordering effects are exactly what
# the per-sink parity queries cannot see: the URL gate changes which
# documents every downstream store ever ingests, and the span cut
# changes the text the minhash stage shingles (VERDICT r11 item 4).
# This query drives FOUR sinks' REAL per-batch bodies
# (_url_ingest_batch -> _span_ingest_batch -> _dedup_ingest_batch ->
# _semantic_ingest_batch) as one chained body over id-ordered
# micro-batches — each stage consuming the previous stage's
# batch-scoped corpus partition (the semantic stage consuming the
# minhash survivors' embeddings, vec_id == doc_id), the production
# composition shape — and pins the per-document outcome of every
# stage against a DuckDB oracle that composes the SAME CTE chains the
# stages' own oracles use (webgate.GATE_CTES + dedup.span_apply_ctes
# rebased on the gated set + similarity.semdedup_pair_ctes restricted
# to the minhash survivors) plus an UNROLLED N-batch replay of the
# minhash sink's decision procedure (intra-batch: lower-id
# band-colliding estimate>=0.7 wins; cross-batch: estimate>=0.7
# against any earlier batch's SURVIVOR store rows — survivors-only is
# the minhash store's contract, so its kept set is chain-sequential
# across batches and the oracle must replay it batch by batch rather
# than state it as one closed form; the SEMANTIC store by contrast
# persists kept AND dropped rows, which makes its drop set
# order-independent under id-ordered arrival — one declarative pair
# pass, no unrolling).
#
# Why stream == this oracle EXACTLY, stage by stage: (1) URL gate —
# with id-ordered arrival, intra-batch keep-lowest + cross-batch
# first-seen equals the batch gate's global min-doc_id-per-URL rule
# (the r11 hypothesis property); (2) span cut — the first occurrence
# by (doc_id, pos) is never cut, so per-batch rn>1-or-seen equals the
# corpus-global row_number rule over the GATED corpus (the span
# parity argument, unchanged by the gate because the gate only
# shrinks the corpus the rule ranges over); (3) minhash — no
# equivalence argument needed: the oracle replays the sink's exact
# per-batch procedure, unrolled for the fixed batch count;
# (4) semantic — with the store persisting every ingested row, "b
# drops iff some earlier-arrived a shares a top-2 cluster at
# cosine >= tau" equals the batch pair rule over the survivor
# corpus (the stream_semantic_compacted_parity argument, restricted
# to the corpus this stage actually sees).
#
# 100-TB shape: the chain adds NO new shuffle beyond the member
# sinks' own (gate: one window; span: token-linear gram explode +
# broadcast store probe; minhash: banded candidate space + broadcast
# batch side); the final per-doc assembly is three doc_id equi-joins
# at the document grain. Docs whose cleaned text yields no shingles
# (< SHINGLE_K tokens after cutting) have no minhash signature and
# are dropped by the minhash stage on both sides by construction.

N_PIPE_BATCHES = 3


def _pipeline_parity_oracle() -> str:
    from ..functions.text import (
        SHINGLE_K,
        oracle_minhash_base_sql,
        oracle_minhash_sig_cols,
        oracle_shingles_cte,
    )
    from ..operators.dedup import N_HASHES, oracle_band_rows, span_apply_ctes
    from ..operators.similarity import (
        SEMDEDUP_TAU,
        _ORACLE_CRANK,
        _ORACLE_VECS,
        semdedup_pair_ctes,
    )
    from ..operators.webgate import GATE_CTES
    from .runtime import DEDUP_INGEST_EST_THRESHOLD

    def est(x: str, y: str) -> str:
        agree = " + ".join(
            f"(CASE WHEN {x}.h{j} = {y}.h{j} THEN 1 ELSE 0 END)"
            for j in range(N_HASHES)
        )
        return f"(({agree}) / {N_HASHES}.0)"

    band_rows = oracle_band_rows("sigb", ("b",))
    # unrolled sequential minhash replay: batch i's intra-survivors
    # (k0) drop against the ACCUMULATED survivors of batches < i
    replay = ["s0 AS (SELECT doc_id FROM k0 WHERE b = 0)"]
    prev = "s0"
    for i in range(1, N_PIPE_BATCHES):
        replay.append(
            f"""x{i} AS MATERIALIZED (
        SELECT DISTINCT nb.doc_id
        FROM bands cb
        JOIN bands nb ON cb.band_idx = nb.band_idx
             AND cb.band_val = nb.band_val
        JOIN k0 kn ON kn.doc_id = nb.doc_id AND kn.b = {i}
        JOIN {prev} sv ON sv.doc_id = cb.doc_id
        JOIN sig sx ON sx.doc_id = cb.doc_id
        JOIN sig sy ON sy.doc_id = nb.doc_id
        WHERE {est("sx", "sy")} >= {DEDUP_INGEST_EST_THRESHOLD}
    )"""
        )
        replay.append(
            f"s{i} AS MATERIALIZED (SELECT doc_id FROM k0 WHERE b = {i} "
            f"AND doc_id NOT IN (SELECT doc_id FROM x{i}))"
        )
        replay.append(
            f"sacc{i} AS MATERIALIZED (SELECT doc_id FROM {prev} "
            f"UNION ALL SELECT doc_id FROM s{i})"
        )
        prev = f"sacc{i}"

    return f"""
    WITH {GATE_CTES},
    g_kept AS (
        SELECT doc_id FROM flagged WHERE NOT is_blocked AND NOT is_dup
    ),
    gdocs AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN g_kept USING (doc_id)
    ),
    {span_apply_ctes("gdocs")},
    cdocs AS (
        SELECT tk.doc_id,
               coalesce(c.cleaned_text, '') AS text,
               CAST(coalesce(c.n_tokens_after, 0) AS BIGINT)
                   AS n_tokens_after
        FROM toks tk LEFT JOIN cleaned c ON c.doc_id = tk.doc_id
    ),
    sh0 AS ({oracle_shingles_cte(SHINGLE_K, "cdocs")}),
    shb AS (SELECT doc_id, {oracle_minhash_base_sql()} FROM sh0),
    sig AS MATERIALIZED (
        SELECT doc_id, {oracle_minhash_sig_cols(N_HASHES)}
        FROM shb GROUP BY doc_id
    ),
    wd AS (
        SELECT (max(doc_id) + {N_PIPE_BATCHES}) // {N_PIPE_BATCHES}
               AS width
        FROM documents
    ),
    sigb AS MATERIALIZED (
        SELECT sig.*, CAST(sig.doc_id // wd.width AS INT) AS b
        FROM sig, wd
    ),
    bands AS MATERIALIZED ({band_rows}),
    intra AS MATERIALIZED (
        SELECT DISTINCT bb.doc_id
        FROM bands a
        JOIN bands bb ON a.b = bb.b AND a.band_idx = bb.band_idx
             AND a.band_val = bb.band_val AND a.doc_id < bb.doc_id
        JOIN sig sx ON sx.doc_id = a.doc_id
        JOIN sig sy ON sy.doc_id = bb.doc_id
        WHERE {est("sx", "sy")} >= {DEDUP_INGEST_EST_THRESHOLD}
    ),
    k0 AS MATERIALIZED (
        SELECT sigb.doc_id, sigb.b FROM sigb
        WHERE sigb.doc_id NOT IN (SELECT doc_id FROM intra)
    ),
    {",".join(replay)},
    {_ORACLE_VECS.strip().rstrip()},
    {_ORACLE_CRANK.strip().rstrip()},
    crank_surv AS (
        SELECT c.* FROM crank c
        JOIN {prev} mh ON mh.doc_id = c.vec_id
    ),
    {semdedup_pair_ctes(2, "crank_surv")},
    sem_dropped AS (
        SELECT DISTINCT vec_b AS vec_id
        FROM scored WHERE cosine >= {SEMDEDUP_TAU}
    )
    SELECT d.doc_id,
           g.doc_id IS NOT NULL AS gate_kept,
           cd.n_tokens_after AS n_tokens_after,
           mk.doc_id IS NOT NULL AS minhash_kept,
           (mk.doc_id IS NOT NULL AND sd.vec_id IS NULL) AS final_kept
    FROM documents d
    LEFT JOIN g_kept g ON g.doc_id = d.doc_id
    LEFT JOIN cdocs cd ON cd.doc_id = d.doc_id
    LEFT JOIN {prev} mk ON mk.doc_id = d.doc_id
    LEFT JOIN sem_dropped sd ON sd.vec_id = d.doc_id
    """


@query("stream_ingest_pipeline_parity", oracle=_pipeline_parity_oracle())
def stream_ingest_pipeline_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the URL-gate -> span-cut -> minhash -> semantic
    crawl-ingest chain end-to-end over id-ordered micro-batches —
    each stage the REAL production per-batch body, each consuming
    the previous stage's batch-scoped corpus partition — and return
    the per-document outcome of every stage (block comment
    above)."""
    from ..operators.similarity import _centroid_frame
    from ..operators.webgate import derived_raw_url
    from .runtime import (
        _dedup_ingest_batch,
        _semantic_ingest_batch,
        _span_ingest_batch,
        _url_ingest_batch,
    )

    root = tempfile.mkdtemp(prefix="pitlap_pipeline_parity_")
    never = 10 * N_PIPE_BATCHES  # compaction off: the per-sink
    # parity queries own the compaction choreography; this query
    # pins the CHAIN
    try:
        u_corp = f"{root}/url_corpus"
        s_corp = f"{root}/span_corpus"
        m_corp = f"{root}/mh_corpus"
        e_corp = f"{root}/sem_corpus"
        url_ing = _url_ingest_batch(f"{root}/url_store", u_corp, never)
        span_ing = _span_ingest_batch(f"{root}/span_store", s_corp, never)
        mh_ing = _dedup_ingest_batch(f"{root}/mh_store", m_corp, never)
        sem_ing = _semantic_ingest_batch(
            _centroid_frame(spark, sf_dir),
            f"{root}/sem_store",
            e_corp,
            never,
        )
        # lazy cut: emb feeds one semi-join per surviving batch —
        # materializes inside its first consumer's job, later batches
        # read the cached blocks instead of re-scanning parquet
        emb = load_table(spark, sf_dir, "embeddings").localCheckpoint(
            eager=False
        )

        def fed_by(corpus: str, ingest, prepare):
            """The stage that runs ``ingest`` on batch i of the stage
            above's ``corpus``. A stage writes nothing on an empty
            batch, so the one below gates on partition existence."""

            def stage(i: int) -> None:
                p = f"{corpus}/batch={i}"
                if os.path.exists(p):
                    ingest(prepare(spark.read.parquet(p)), i)

            return stage

        # Software-pipelined chain (guide §2.6 overlap independent
        # jobs): stage s of batch i depends ONLY on stage s-1 of
        # batch i (its corpus partition) and stage s of batch i-1
        # (its own store order), never on a LATER batch of an earlier
        # stage — so url(i+1) can run while span(i) runs, etc. One
        # driver thread per stage, each consuming its batches in
        # order and signalling the stage below per batch; store
        # contents, batch order within each stage, and therefore
        # every result row are identical to the sequential loop. The
        # sequential chain paid 4 stages x N batches of back-to-back
        # per-batch driver floors (Catalyst per-frame analysis) on an
        # idle cluster; the pipeline overlaps them to ~(4 + N - 1)
        # slots.
        _drive_id_ordered(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", derived_raw_url().alias("url_raw")
            ),
            "doc_id",
            N_PIPE_BATCHES,
            url_ing,
            fed_by(u_corp, span_ing, lambda df: df.select("doc_id", "text")),
            fed_by(
                s_corp,
                mh_ing,
                lambda df: df.select(
                    "doc_id", F.col("cleaned_text").alias("text")
                ),
            ),
            # stage 4: semantic dedup over the minhash survivors'
            # embeddings (vec_id == doc_id, the fixture contract)
            fed_by(
                m_corp,
                sem_ing,
                lambda df: emb.join(
                    df.select(F.col("doc_id").alias("vec_id")).distinct(),
                    "vec_id",
                    "left_semi",
                ),
            ),
        )

        def read(corpus: str, *cols) -> DataFrame:
            # eager: the temp stores are removed in finally
            if not os.path.exists(corpus):
                return spark.createDataFrame([], "doc_id long")
            return spark.read.parquet(corpus).select(*cols).localCheckpoint(
                eager=True
            )

        g = read(u_corp, "doc_id")
        sp = read(s_corp, "doc_id", "n_tokens_after")
        mh = read(m_corp, "doc_id")
        sem = read(e_corp, F.col("vec_id").alias("doc_id"))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    result = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(g.withColumn("_g", F.lit(True)), "doc_id", "left")
        .join(sp, "doc_id", "left")
        .join(mh.withColumn("_m", F.lit(True)), "doc_id", "left")
        .join(sem.withColumn("_s", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_g", F.lit(False)).alias("gate_kept"),
            F.col("n_tokens_after").cast("long").alias("n_tokens_after"),
            F.coalesce("_m", F.lit(False)).alias("minhash_kept"),
            F.coalesce("_s", F.lit(False)).alias("final_kept"),
        )
    )
    return result.localCheckpoint(eager=True)
