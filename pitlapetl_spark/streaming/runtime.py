"""Structured Streaming runtime (SURVEY.md §2.12, §7.2 M4).

The reference achieves freshness by re-running a DAG and leaning on
upsert idempotency (K1) or truncate-reload (K3). Here the same
pipelines run *incrementally*: file-stream source over the events
table -> watermarked windowed aggregation (the exact groupBy bodies
proven against DuckDB in batch_windows.py) -> ``foreachBatch`` keyed
upsert reproducing K1 semantics per micro-batch.

Scale design: the file source lists + processes new files per trigger
(maxFilesPerTrigger bounds batch size); watermarks bound state — rows
arriving in a LATER micro-batch for a window older than the committed
watermark are filtered at batch start, so state never grows forever.
(Spark's drop is best-effort *within* a batch: the watermark used by
batch N is the one committed by batch N-1, so a straggler landing in
the same batch that advances the watermark may still aggregate —
tests/test_streaming.py pins both sides of this contract.) The
foreachBatch upsert MERGEs each micro-batch into the target table
(sinks.merge_upsert_write), so batch and streaming loads are
interchangeable and replay-idempotent.

The crawl-ingest and monitor sinks keep their state in batch-scoped
stores (store.py, which also states their exactly-once, crash and
provenance contract); each sink here is only its per-batch kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sinks import merge_upsert_partition_scoped, merge_upsert_write
from ..sources import (
    DOCUMENTS,
    EMBEDDINGS,
    EVENTS,
    EVENTS_RAW,
    _events_nanos_normalized,
    parquet_ts_unit,
)
from .store import (
    BatchStore,
    _compact_partition_store,
    _quantizer_versions,
    batch_body,
    quantizer_path,
    start,
    write,
)


def _parquet_stream(
    spark: SparkSession, schema, path: str, max_files_per_trigger: int | None
) -> DataFrame:
    """File-stream source over a parquet directory with a declared
    schema; ``max_files_per_trigger`` bounds each micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over events parquet (same footer-driven ts
    unit handling as the batch reader, sources/__init__.py: micros map
    to TimestampType directly; a nanos footer falls back to the raw
    long read + exact div-1000 normalization)."""
    if parquet_ts_unit(path) != "ns":
        return _parquet_stream(spark, EVENTS, path, max_files_per_trigger)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _events_nanos_normalized(
        _parquet_stream(spark, EVENTS_RAW, path, max_files_per_trigger)
    )


def tumbling_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked tumbling-window counts — identical aggregation body
    to the oracle-checked batch query (batch_windows.py
    stream_tumbling_counts); the watermark bounds state and defines
    the late-data drop policy."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
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


def ohlc_candles(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked OHLC candles — identical aggregation body to the
    oracle-checked batch query (batch_windows.py stream_ohlc_candles):
    per (day window, user) the struct argmin/argmax open/close plus
    high/low/count/volume, incrementally maintained. min/max over
    structs are ordinary streaming-supported aggregates, so first/last
    per key needs NO sort and no flatMapGroups state — the watermark
    bounds window state as usual."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
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


def dedup_stream(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Stateful streaming dedup on event_id:
    ``dropDuplicatesWithinWatermark`` keeps dedup state only within
    the watermark horizon — bounded memory at any stream length
    (exactly the at-least-once -> effectively-once repair for a
    replayed source)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_enrich(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join (§2.12): each micro-batch of the
    stream left-joins a STATIC dimension — no watermark, no state, the
    dim is re-resolved per batch (so a dim refresh between batches is
    picked up). The dim is broadcast: at 100 TB of stream the
    enrichment stays shuffle-free; a dim too big to broadcast should
    be pre-bucketed on the join key instead (SCALE.md)."""
    return events.join(F.broadcast(user_dim), "user_id", "left")


def stream_stream_click_purchase_join(
    events: DataFrame, max_gap: str = "6 hours", watermark: str = "1 day"
) -> DataFrame:
    """Stream-stream inner join: every purchase matched to the same
    user's clicks in the preceding ``max_gap``. Both sides carry
    watermarks and the join condition bounds event time on BOTH
    streams — that bound is what lets Spark expire join state
    (otherwise each side would buffer forever). The canonical
    funnel/attribution join, incremental."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}")),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts", "amount")


STATEFUL_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, total_value DOUBLE, "
    "last_event_ts TIMESTAMP, is_final BOOLEAN"
)
STATEFUL_STATE_SCHEMA = "n BIGINT, total DOUBLE, last_us BIGINT"

# default idle TTL for the stateful totals operator: a key whose last
# event is this far behind the watermark has its segment finalized and
# its state dropped
STATEFUL_IDLE_TTL_MS = 7 * 24 * 3600 * 1000


def stateful_user_totals(
    events: DataFrame,
    watermark: str = "2 days",
    idle_ttl_ms: int = STATEFUL_IDLE_TTL_MS,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (count, total) that survives across micro-batches
    in the state store. This is the escape hatch for aggregations the
    built-in windowed operators can't express (counters with custom
    merge/expiry logic).

    State is BOUNDED (VERDICT r6 "what's wrong" #1 — the docstring
    used to claim the watermark bounded state while using NoTimeout):
    each key's timeout is set to last-event-time + ``idle_ttl_ms``
    (EventTimeTimeout, the same device as ``debounce_stream``); when
    the watermark passes it, the key's running segment is EMITTED as a
    finalized row (``is_final = true``) and the state removed. Nothing
    is lost: per user, the finalized segments plus the live segment
    partition the event history, so summing them reconstructs the
    all-time totals — the emit-on-expiry pattern that keeps state
    O(active keys) instead of O(all keys ever seen), which is the
    difference between a state store that survives a year of traffic
    at 100 TB and one that doesn't. A user returning after the TTL
    starts a NEW segment at zero (``n_events``/``total_value`` are
    within-segment running values; downstream merges on user_id when
    the all-time view is wanted). ``last_event_ts`` dates each row so
    a consumer can order a user's segments without relying on sink
    arrival order."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # watermark passed last_us + TTL: finalize the segment and
            # drop the key's state
            n, total, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 4)],
                    "last_event_ts": [pd.to_datetime(last_us, unit="us")],
                    "is_final": [True],
                }
            )
            return
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        dfs = [d for d in pdfs if len(d)]
        if not dfs:
            return
        for pdf in dfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total, last_us))
        # evict once the watermark passes last + TTL; the API rejects
        # timestamps at/behind the current watermark (debounce's guard)
        state.setTimeoutTimestamp(
            max(last_us // 1000 + idle_ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "last_event_ts": [pd.to_datetime(last_us, unit="us")],
                "is_final": [False],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            STATEFUL_OUT_SCHEMA,
            STATEFUL_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


TWS_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, total_value DOUBLE, max_purchase DOUBLE"
)


def tws_user_profile(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Per-user running profile via ``transformWithStateInPandas`` —
    the Spark 4.x arbitrary-state API that supersedes
    ``applyInPandasWithState`` (stateful_user_totals above keeps the
    legacy form for parity). What the new API adds over GroupState:
    NAMED state variables with independent schemas and per-variable
    TTL — here a (count, total) ValueState plus a separate
    max-purchase ValueState, composed in one processor. Requires the
    RocksDB state store provider (bundled with OSS Spark 4) and the
    ``protobuf`` package (PySpark's state-server wire format; not
    installed in this container, so tests/test_streaming.py skips the
    parity test when the import fails — the legacy
    ``stateful_user_totals`` path stays the tested one here); state is
    keyed by user_id and lives executor-side, never on the driver."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n BIGINT, total DOUBLE")
            self._max_purchase = handle.getValueState("max_purchase", "m DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            m = self._max_purchase.get()[0] if self._max_purchase.exists() else None
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                purchases = pdf.loc[pdf["event_type"] == "purchase", "value"]
                if len(purchases):
                    pm = float(purchases.max())
                    m = pm if m is None or pm > m else m
            self._totals.update((n, total))
            if m is not None:
                self._max_purchase.update((m,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 4)],
                    "max_purchase": [m],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserProfile(),
            outputStructType=TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Run a streaming plan to a memory sink with the availableNow
    trigger (process everything currently available, then stop) —
    the batch-parity harness used by the tests."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def run_upsert_sink(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """K1 keyed upsert as a streaming sink: every micro-batch MERGEs
    into the target table (``sinks.merge_upsert``'s one-pass plan on
    ``key_cols``, staged-swap write) — idempotent on replay, which
    together with the checkpoint gives end-to-end exactly-once table
    state.

    MERGE, not dynamic partition overwrite: in ``update`` output mode a
    micro-batch carries only the (window, key) rows that CHANGED, so
    rewriting whole ``key_cols`` partitions would delete every earlier
    window of the same key that happened not to change in this batch —
    silent data loss under any multi-batch stream. Partition overwrite
    is only safe when ``key_cols`` covers the full aggregation key
    (every emitted row owns its partition); MERGE is safe for any key
    subset, so it is the default here. ``key_cols`` must be the full
    output grain (e.g. ``["window_start", "event_type"]``) for
    replaced rows to line up one-to-one."""

    return _merge_stream(df, checkpoint, lambda b: merge_upsert_write(b, path, key_cols))


def _merge_stream(df: DataFrame, checkpoint: str, merge_batch) -> StreamingQuery:
    """Shared update-mode foreachBatch skeleton for the MERGE sinks.
    The micro-batch is PERSISTED across the actions a merge takes
    (emptiness probe, the scoped sink's driver-side partition listing,
    the one-pass merge write that also checks for duplicate keys):
    without it the upstream stateful aggregation recomputes per action
    (the multi-action foreachBatch pattern Spark's own docs prescribe)."""

    guarded = batch_body(lambda b, _batch_id: merge_batch(b))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            guarded(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return start(df, write_batch, checkpoint, "update")


def run_upsert_sink_scoped(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    part_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """The 100-TB form of the streaming upsert: every micro-batch
    MERGEs partition-scoped (sinks.merge_upsert_partition_scoped), so
    per-batch I/O is O(partitions the batch touches), never O(table) —
    ``run_upsert_sink``'s whole-table staged swap re-reads and
    rewrites everything per batch, which is correct but unaffordable
    once the target outgrows a micro-batch by orders of magnitude.

    Contracts inherited and combined: ``key_cols`` must be the FULL
    output grain (run_upsert_sink's update-mode rule) and must
    include ``part_col``'s determinants — a key never migrates
    between partitions (the partition-scoped MERGE rule); partition
    values must be filesystem-safe scalars. Idempotent on replay:
    re-merging an already-absorbed batch rewrites its partitions to
    the same bytes-equivalent state, so checkpoint + replay keeps
    exactly-once table semantics."""
    return _merge_stream(
        df, checkpoint, lambda b: merge_upsert_partition_scoped(b, path, key_cols, part_col)
    )


# ------------------------------------------------ dedup ingest sink

DEDUP_INGEST_EST_THRESHOLD = 0.7  # minhash-estimate accept threshold

# Compact the ingest stores once this many committed batch partitions
# accumulate. The 20-batch growth probes put the crossover where
# partition-listing + many-small-file scan overhead beats the one-off
# compaction rewrite at ~150-200 batches (SCALE.md "Monitor-sink
# store growth"); default inside that band, overridable per sink.
DEDUP_INGEST_COMPACT_EVERY = 150


# --------------------------- corpus-sized quantizer (SemDeDup K rule)
# A frozen K-centroid quantizer makes the semantic sink's per-batch
# candidate mass grow linearly with the store: candidates per batch
# ~ batch x (store rows sharing a top-2 cluster) ~ batch x store/K.
# The SemDeDup production rule sizes K WITH the corpus (cluster count
# grows so per-cluster mass stays ~constant) — the round-12 composed
# pipeline probe measured the frozen-K=8 tail climbing 10-25 s/batch
# exactly as that term predicts (SCALE.md). The machinery below is
# that rule, built on the store's own fold device:
#
# - At deterministic schedule batches (batch_id % compact_every == 0)
#   the sink counts the store's earlier-arrived DISTINCT vectors; when
#   that exceeds target x K_active it fits a new quantizer with
#   K = ceil(n / target) and RELABELS the whole store under it: a
#   fold through _compact_partition_store with the relabel as its
#   rewrite (store.py's commit protocol, so a crash at any point heals
#   on replay; old-label/new-label crash duplicates collapse because
#   the fold recomputes labels BEFORE its full-row dropDuplicates).
# - Fitted quantizers persist under ``{store}/_quantizer/qbatch=<N>``
#   (underscore prefix = invisible to the store's own partition
#   discovery); the ACTIVE quantizer at batch N is the newest sealed
#   version with qbatch <= N, else the caller's frozen frame. Store
#   labels are always under the active version: rows written between
#   requantizations are assigned under it, and each requantization
#   rewrites everything older.
# - Replay exactness: the trigger condition, the fit (seeded by a
#   deterministic hash order, one Lloyd step), and the relabel are all
#   pure functions of the store rows with ``src_batch < batch_id`` —
#   the exact set the first run saw — so a single-batch replay or a
#   fresh-checkpoint full reprocess re-derives bit-identical
#   quantizers on the same schedule. The one reprocess wrinkle: at
#   replay batch N the store may carry labels (and persisted
#   ``qbatch`` dirs) from FUTURE first-run requantizations; versions
#   with qbatch > N are detected by listing, the store is relabeled
#   back under the version active at N, and the stale dirs are
#   deleted (the reprocess recreates them identically when it reaches
#   their batches).
#
# The fit is deliberately coarse — K hash-sampled seed vectors plus
# one Lloyd refinement — because the quantizer only shapes the
# CANDIDATE space; the kept/dropped verdict is always the exact
# cosine at tau. Quantizer quality affects cost (cluster balance)
# and the usual SemDeDup straddle-miss class (mitigated by top-2
# assignment), never the verify arithmetic.

# requantize only once the distinct-vector count exceeds this factor
# times target x K_active: a geometric growth schedule, so the sum of
# all relabel rewrites over a store's lifetime is O(final store size)
_REQUANT_GROWTH = 2


def _fit_quantizer(vecs: DataFrame, k: int) -> DataFrame:
    """Deterministic coarse quantizer over a (vec_id, v, nrm) frame:
    K seed vectors in xxhash64(vec_id) order (a reproducible
    pseudo-random sample — TakeOrdered, no full sort), one Lloyd
    step (nearest-seed assignment, per-dimension mean), seed kept
    verbatim for any cluster the step left empty or degenerate.
    Returns the (label, cv, cnrm) contract frame of
    rank_against_centroids."""
    from ..operators.similarity import centroid_means, rank_against_centroids

    # zero-norm vectors can neither seed nor score (cosine undefined;
    # ANSI division) — the ingest path itself rejects them loudly, so
    # none should reach here, but the fit must not be the crash site
    vecs = vecs.filter(F.col("nrm") > 0)
    order = [
        F.xxhash64(F.col("vec_id").cast("string")),
        F.col("vec_id"),
        # tie-break for a re-delivered vec_id carrying two vectors
        F.xxhash64(F.col("v")),
    ]
    seeds = (
        vecs.orderBy(*order)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(*order)) - 1).alias(
                "label"
            ),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
        .localCheckpoint(eager=True)
    )
    # one Lloyd step: nearest seed (crk=1), element-wise mean
    means = centroid_means(
        rank_against_centroids(vecs, seeds)
        .filter(F.col("crk") == 1)
        .join(vecs, "vec_id")
        .select("label", F.posexplode("v").alias("i", "x"))
    ).select("label", F.col("cv").alias("mv"), F.col("cnrm").alias("mnrm"))
    return (
        seeds.join(means, "label", "left")
        .select(
            "label",
            F.when(F.col("mnrm") > 0, F.col("mv"))
            .otherwise(F.col("cv"))
            .alias("cv"),
            F.when(F.col("mnrm") > 0, F.col("mnrm"))
            .otherwise(F.col("cnrm"))
            .alias("cnrm"),
        )
    )


def _relabel_store(
    spark: SparkSession, store_path: str, current_batch: int, cent: DataFrame
) -> None:
    """Rewrite every fold-eligible store partition into one generation
    with top-2 labels recomputed under ``cent``. Labels are recomputed
    BEFORE the full-row dropDuplicates, so a crash-window copy labeled
    under the previous quantizer collapses with its relabeled twin
    instead of surviving as a phantom row."""
    from ..operators.similarity import cosine_col

    def relabel(base: DataFrame) -> DataFrame:
        base = base.drop("label").dropDuplicates()
        # re-assign per physical row; the rank window keys on the
        # row's own identity (vec_id, origin batch, vector) so a
        # legitimately re-delivered vec_id with a different vector
        # ranks independently
        scored = (
            base.alias("q")
            .join(F.broadcast(cent).alias("c"))
            .select(
                "q.*",
                F.col("c.label").alias("label"),
                cosine_col("q.v", "q.nrm", "c.cv", "c.cnrm").alias("ccos"),
            )
        )
        w = Window.partitionBy("vec_id", "src_batch", "v").orderBy(
            F.col("ccos").desc(), "label"
        )
        return (
            scored.withColumn("crk", F.row_number().over(w))
            .filter(F.col("crk") <= 2)
            .select("vec_id", "label", "v", "nrm", "kept", "src_batch")
            .dropDuplicates()
        )

    _compact_partition_store(spark, store_path, current_batch, 0, rewrite=relabel)


def _maybe_requantize(
    spark: SparkSession,
    store: BatchStore,
    batch_id: int,
    frozen: DataFrame,
    target: int,
    check_every: int,
    k_cache: dict,
) -> DataFrame:
    """Return the ACTIVE quantizer frame for ``batch_id``, fitting and
    installing a larger one first when the schedule and the store's
    distinct-vector count call for it (block comment above).
    ``k_cache`` memoizes loaded versions across the closure's batches
    ({version_id: checkpointed frame}); version -1 is the frozen
    fallback."""
    import shutil as _shutil

    versions = _quantizer_versions(store.root)
    # fresh-checkpoint reprocess guard: versions fitted by a FUTURE
    # first-run batch are stale here — relabel the store back under
    # the version active at this batch and drop them (the reprocess
    # re-derives them identically on schedule)
    stale = {b: p for b, p in versions.items() if b > batch_id}
    if stale:
        versions = {b: p for b, p in versions.items() if b <= batch_id}
        active = (
            spark.read.parquet(versions[max(versions)])
            if versions
            else frozen
        )
        _relabel_store(spark, store.root, batch_id, active)
        for p in stale.values():
            _shutil.rmtree(p, ignore_errors=True)
        k_cache.clear()

    def _load_active() -> DataFrame:
        vid = max(versions) if versions else -1
        if vid not in k_cache:
            frame = (
                spark.read.parquet(versions[vid]) if vid >= 0 else frozen
            )
            k_cache[vid] = frame.localCheckpoint(eager=True)
        return k_cache[vid]

    if batch_id in versions:
        # this batch already fitted a quantizer in a previous attempt
        # — a crash may have landed between the quantizer commit and
        # the relabel commit, leaving store labels under the OLD
        # version. Re-run the relabel (idempotent on an already
        # relabeled store) before probing.
        active = _load_active()
        _relabel_store(spark, store.root, batch_id, active)
        return active
    if batch_id <= 0 or batch_id % check_every != 0:
        return _load_active()
    earlier = store.earlier(spark, batch_id)
    if earlier is None:
        return _load_active()
    vecs = earlier.select("vec_id", "v", "nrm").dropDuplicates(
        ["vec_id", "v"]
    )
    n = vecs.filter(F.col("nrm") > 0).count()
    k_active = _load_active().count()
    # x2 hysteresis: geometric growth schedule, so total relabel work
    # over a store's lifetime is O(final store size), not quadratic
    if n <= _REQUANT_GROWTH * target * k_active:
        return _load_active()
    k_new = -(-n // target)  # ceil
    fitted = _fit_quantizer(
        vecs.localCheckpoint(eager=True), k_new
    ).localCheckpoint(eager=True)
    qdir = quantizer_path(store.root, batch_id)
    fitted.write.mode("overwrite").parquet(qdir)
    _relabel_store(spark, store.root, batch_id, fitted)
    k_cache.clear()
    k_cache[batch_id] = fitted
    versions[batch_id] = qdir
    return fitted


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over a documents parquet directory."""
    return _parquet_stream(spark, DOCUMENTS, path, max_files_per_trigger)


def _banded_ingest_batch(
    store_path: str,
    corpus_path: str,
    compact_every: int,
    band_rows,
    band: str,
    verify,
):
    """The per-micro-batch body of both banded near-dup ingest sinks,
    minhash and pHash. ``band_rows(batch)`` builds one row per (doc,
    band) carrying the doc's hash; ``verify`` is the pair test over the
    ``a.``/``b.`` columns of ``band_join``. (b) A batch doc drops when a
    lower-id batch doc shares a band with it and passes ``verify``;
    (c) a kept doc drops when an earlier-arrived store row shares a
    band with it and passes ``verify``; (d) the survivors' corpus rows
    and band rows are written, so the next batch probes them too. The
    band rows carry the hash, so the verify reads the very store rows
    the candidate join matched."""
    from ..operators.dedup import band_join

    store = BatchStore(store_path)

    def dropped(pairs: DataFrame) -> DataFrame:
        return pairs.filter(verify).select(F.col("b.doc_id").alias("doc_id")).distinct()

    def kernel(batch_df: DataFrame, batch_id: int) -> None:
        # lazy lineage cuts (each frame has 2+ consumers): the frames
        # materialize once inside the survivors job instead of as
        # separate eager jobs per micro-batch
        batch = batch_df.localCheckpoint(eager=False)
        bands = band_rows(batch).localCheckpoint(eager=False)
        kept = bands.join(
            dropped(band_join(bands, bands, band, ordered=True)), "doc_id", "left_anti"
        )
        survivors = kept.select("doc_id").distinct()
        earlier = store.earlier(batch_df.sparkSession, batch_id)
        if earlier is not None:
            # the kept batch bands are micro-batch-bounded: broadcast
            # them so the store is probed in place and never shuffled
            probe = band_join(earlier, F.broadcast(kept), band)
            survivors = survivors.join(dropped(probe), "doc_id", "left_anti")
        keep = F.broadcast(survivors.localCheckpoint(eager=True))
        # the writes are independent given `keep` (eager) plus the
        # batch/bands lazy checkpoints, all materialized inside the
        # survivors job
        write(
            batch_id,
            (corpus_path, batch.join(keep, "doc_id", "left_semi")),
            (store, bands.join(keep, "doc_id", "left_semi")),
        )

    return batch_body(kernel, store, compact_every)


def _dedup_ingest_batch(
    store_path: str,
    corpus_path: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
):
    """Build the per-micro-batch body of the minhash ingest sink
    (run_dedup_ingest_sink's docstring). Exposed as a factory, like
    every ingest sink's ``_*_ingest_batch``, so the parity queries
    can drive the EXACT production code path with deterministic
    id-ordered batches, while the streaming wrapper hands the same
    function to foreachBatch."""
    from ..operators.dedup import N_HASHES, _band_rows, minhash_signatures

    hs = [f"h{j}" for j in range(N_HASHES)]
    agree = sum(F.when(F.col(f"a.{h}") == F.col(f"b.{h}"), 1).otherwise(0) for h in hs)
    return _banded_ingest_batch(
        store_path,
        corpus_path,
        compact_every,
        lambda batch: _band_rows(minhash_signatures(batch), *hs),
        "band_idx",
        agree / F.lit(N_HASHES) >= DEDUP_INGEST_EST_THRESHOLD,
    )


def run_dedup_ingest_sink(
    docs: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming crawl ingest with incremental near-dup dedup — the
    recurring production shape behind ``dedup_incremental_minhash``
    run continuously: every micro-batch (a) computes its minhash
    signatures and band rows, (b) dedups WITHIN the batch (band
    self-join, keep-lowest-doc_id), (c) probes the persisted band
    store with the (broadcast-small) kept batch bands and drops batch
    docs whose signature-estimated Jaccard against any stored doc
    clears the threshold, then (d) writes the survivors' rows and band
    rows, so the next batch dedups against them too
    (``_banded_ingest_batch``, shared with the pHash sink).

    The dedup decision is the SIGNATURE ESTIMATE (fraction of
    agreeing minhash slots — the standard unbiased Jaccard
    estimator), not an exact-shingle verify: the store persists one
    row per (doc, band) carrying the band key and the signature
    ``h0..h15``, never shingle sets. Per-batch store-side cost is one
    scan of that store (equi-join on the precomputed band key, the
    estimate read from the matched row — nothing is re-hashed per
    batch); a point-lookup KV store would cut the scan to
    O(collisions), which is the stated migration path at corpus sizes
    where the scan dominates.

    Exactly-once, crash and provenance semantics are the
    batch-scoped store's (store.py). The probe compares a batch doc
    with every earlier-arrived row, so a re-delivered doc_id with
    edited text dedups against its own earlier version like any other
    row. The store folds into generations once ``compact_every``
    committed partitions accumulate; the CORPUS is deliberately left
    un-compacted: its batch layout is a downstream consumer contract,
    and it is never scanned by the ingest path."""
    return start(
        docs, _dedup_ingest_batch(store_path, corpus_path, compact_every), checkpoint
    )


# -------------------------------------- media phash ingest sink


def _phash_ingest_batch(store_path: str, corpus_path: str, compact_every: int):
    """Build the per-micro-batch body of the media pHash ingest sink
    (run_media_phash_ingest_sink's docstring); a factory like the
    other ``_*_ingest_batch`` bodies."""
    from ..operators.multimodal import (
        PHASH_HAM_MAX,
        phash_band_rows,
        phash_frame,
    )

    return _banded_ingest_batch(
        store_path,
        corpus_path,
        compact_every,
        lambda batch: phash_band_rows(phash_frame(batch.select("doc_id", "text"))),
        "band_id",
        F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))) <= PHASH_HAM_MAX,
    )


def run_media_phash_ingest_sink(
    docs: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming MEDIA ingest with hamming-space near-dup dedup — the
    multimodal twin of ``run_dedup_ingest_sink`` on the same banded
    kernel (``_banded_ingest_batch``): every micro-batch (a) computes
    block-mean perceptual hashes for its payloads (``phash_frame`` —
    the only Python, Arrow-batched), (b) dedups within the batch (band
    self-join + exact hamming verify, keep-lowest-doc_id), (c) probes
    the persisted band store with the broadcast-small kept batch bands
    and drops docs whose hamming distance to any stored hash is <=
    PHASH_HAM_MAX, then (d) writes survivors' rows and band rows,
    which carry the full hash next to the band key.

    Exactly-once, crash and provenance semantics are the batch-scoped
    store's (store.py). Per-batch cost: O(batch) hashing + one
    band-store scan (equi-join on the precomputed band key); the same
    bucket-pruning / KV migration noted on the minhash sink applies
    when the store scan dominates. The band store folds into
    generations once ``compact_every`` committed partitions
    accumulate; the corpus stays un-compacted for the same
    consumer-contract reason as the minhash sink's."""
    return start(
        docs, _phash_ingest_batch(store_path, corpus_path, compact_every), checkpoint
    )


# ------------------------------- semantic embedding ingest sink
# The third member of the crawl-ingest dedup family (minhash:
# run_dedup_ingest_sink; pHash: run_media_phash_ingest_sink;
# embeddings: here) — the incremental twin of the batch
# dedup_semantic_top2 query, so a crawl pipeline that SemDeDups
# batch-side has a streaming path with the same semantics
# (VERDICT r9 item 3).
#
# Assignment contract: every batch vector is scored against a FROZEN
# quantizer — a (label, cv, cnrm) centroid frame fit OFFLINE on a
# reference corpus and passed in, never refit per batch (the PSI
# fit-on-reference rule: a drifting quantizer silently re-keys the
# store's cluster space and old assignments stop colliding with new
# ones). Scoring reuses operators/similarity.rank_against_centroids —
# the SAME rounded-cosine + (ccos desc, label) tie-break the batch
# twin uses, so stream and batch assignments are bit-identical by
# construction, not by luck.
#
# Store contract (differs from the minhash/pHash sinks, deliberately):
# the assignment store persists top-2 rows for ALL ingested vectors —
# kept AND dropped, with a `kept` flag — while the dedup verdict gates
# only the CORPUS output. Two reasons: (1) chain robustness — with a
# survivors-only store, a ~ b (b dropped), then c ~ b but c !~ a
# would let c through even though it near-duplicates content already
# rejected; probing against everything seen closes that hole; (2) it
# makes the drop set ORDER-INDEPENDENT under id-ordered arrival:
# vector b drops iff some earlier-arrived a shares a top-2 cluster
# with cosine >= tau — exactly the vec_b side of the batch twin's
# pair set — which is what the registered stream-vs-batch parity
# query (stream_semantic_compacted_parity, batch_windows.py) pins at
# the driver's value-hash level.
#
# 100-TB shape: per-batch cost is O(batch x K) broadcast quantizer
# scoring + one scan of the (partition-pruned, provenance-filtered)
# store — never all-pairs, and since r12 never pair-materializing
# either: the intra-batch probe is one BLAS matmul per cluster group
# (the batch twin's `_cluster_pair_score_fn`), and the store probe is
# a mapInArrow pass over the store scan that dots each store row
# against the micro-batch's per-label assignment matrices (closure-
# shipped — bounded by the micro-batch size, the same rows the
# pre-r12 plan broadcast into a join). The store is read once and
# never shuffled; no candidate pair ever becomes a JVM row (the old
# plan's per-pair wide rows + pre-score dropDuplicates exchange were
# the measured per-batch wall, OPTIMIZATION_r12.md).
# The store is a batch-scoped store (store.py: exactly-once, crash,
# provenance); it folds into generations once compact_every commit,
# and the corpus stays un-compacted for the minhash sink's
# consumer-contract reason.


def read_embeddings_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over an embeddings parquet directory."""
    return _parquet_stream(spark, EMBEDDINGS, path, max_files_per_trigger)


def _semantic_store_probe_fn(assign_rows, tau: float):
    """Factory for the cross-batch store probe: a ``mapInArrow``
    function over (vec_id, label, v, nrm) STORE rows that
    emits the micro-batch vec_ids having some store row in a shared
    cluster with round-6 cosine >= ``tau``.

    ``assign_rows`` is the micro-batch's collected top-2 assignment
    (vec_id, label, v, nrm) — bounded by the micro-batch size, the
    exact rows the pre-r12 plan shipped into the store join via
    ``F.broadcast``; here they ship once per task as per-label numpy
    matrices in the function closure instead, so the store is
    scanned once, never shuffled, and no candidate pair is ever
    materialized as a JVM row (guide §8: decide with small rows —
    the heavy side moves zero times).

    Numeric contract: same floor(x*1e6+0.5)/1e6 == HALF_UP rounding
    as `_cluster_pair_score_fn` (similarity.py) — see its docstring
    for the summation-order / rounding-equivalence argument."""
    import numpy as np

    mats: dict = {}
    for r in assign_rows:
        mats.setdefault(r["label"], []).append(r)
    for lbl, rows in mats.items():
        mats[lbl] = (
            np.array([r["v"] for r in rows], dtype="float64"),
            np.array([r["nrm"] for r in rows], dtype="float64"),
            np.array([r["vec_id"] for r in rows], dtype="int64"),
        )

    def probe(batches):
        import pyarrow as pa

        matched: set = set()
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            s_lbl = rb.column("label").to_numpy(zero_copy_only=False)
            s_nrm = rb.column("nrm").to_numpy(zero_copy_only=False)
            s_v = rb.column("v").to_numpy(zero_copy_only=False)
            for lbl in np.unique(s_lbl):
                hit = mats.get(lbl)
                if hit is None:
                    continue
                xv, xn, xi = hit
                m = s_lbl == lbl
                sv = np.stack(s_v[m])
                cos = (sv @ xv.T) / np.outer(s_nrm[m], xn)
                ge = np.floor(cos * 1e6 + 0.5) / 1e6 >= tau
                matched.update(xi[ge.any(axis=0)].tolist())
        if matched:
            yield pa.RecordBatch.from_arrays(
                [pa.array(sorted(matched), type=pa.int64())],
                names=["vec_id"],
            )

    return probe


def _semantic_ingest_batch(
    centroids: DataFrame,
    store_path: str,
    corpus_path: str,
    compact_every: int,
    requantize_target: int | None = None,
):
    """Build the per-micro-batch body of the semantic ingest sink
    (block comment above). Exposed as a factory so the registered
    parity query can drive the EXACT production code path with
    deterministic id-ordered batches, while the streaming wrapper
    hands the same function to foreachBatch.

    ``requantize_target`` (vectors per cluster) opts into the
    corpus-sized quantizer (SemDeDup K rule — block comment at
    _maybe_requantize): ``centroids`` then seeds version -1 and the
    sink grows K with the store on the compaction schedule. Default
    None keeps the frozen-quantizer contract exactly (the registered
    parity query's mode); the two modes share one store schema but a
    given store should run under one mode for its lifetime."""
    from ..operators.similarity import (
        SEMDEDUP_TAU,
        cluster_pair_scores,
        embedding_vectors,
        rank_against_centroids,
    )

    if requantize_target is not None and requantize_target < 1:
        raise ValueError(
            "requantize_target is a cluster size in vectors; got "
            f"{requantize_target!r}"
        )
    cent = centroids.localCheckpoint(eager=True)
    k_cache: dict = {}
    store = BatchStore(store_path)

    def kernel(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        active = (
            _maybe_requantize(
                spark,
                store,
                batch_id,
                cent,
                requantize_target,
                compact_every,
                k_cache,
            )
            if requantize_target is not None
            else cent
        )
        batch = batch_df.localCheckpoint(eager=True)
        vecs = embedding_vectors(batch)
        # top-2 overlapping assignment against the active quantizer —
        # the shared scorer, so stream == batch by construction
        assign = (
            rank_against_centroids(vecs, active)
            .filter(F.col("crk") <= 2)
            .select("vec_id", "label")
            .join(vecs, "vec_id")
            .localCheckpoint(eager=True)
        )

        # intra-batch: b drops iff ANY lower-id batch vector shares a
        # top-2 cluster with cosine >= tau — one BLAS matmul per
        # cluster group (the batch twin's scorer with the same
        # giant-cluster skew cap, so stream == batch arithmetic by
        # construction); only the tau survivors come back,
        # distinct-ed on the higher-id side
        in_dups = (
            cluster_pair_scores(
                assign,
                SEMDEDUP_TAU,
                schema="vec_a long, vec_b long, cosine double",
            )
            .select(F.col("vec_b").alias("vec_id"))
            .distinct()
        )

        # cross-batch: probe the store's earlier-arrived rows, kept
        # and dropped alike — precedence is arrival order, so a
        # replay of batch N reads exactly what the first run read.
        # One mapInArrow pass over the pruned store scan: each store
        # row is dotted against the batch's per-label assignment
        # matrices (closure-shipped — bounded by the micro-batch, the
        # same rows the old plan broadcast); the store is never
        # shuffled and no candidate pair becomes a JVM row
        # (_semantic_store_probe_fn)
        earlier = store.earlier(spark, batch_id)
        if earlier is not None:
            x_dups = (
                earlier.select("vec_id", "label", "v", "nrm")
                .mapInArrow(
                    _semantic_store_probe_fn(
                        assign.collect(), SEMDEDUP_TAU
                    ),
                    schema="vec_id long",
                )
                .distinct()
            )
            dropped = in_dups.unionByName(x_dups).distinct()
        else:
            dropped = in_dups
        dropped = F.broadcast(dropped.localCheckpoint(eager=True))

        # corpus gets survivors only; the store gets EVERY assignment
        # row with the verdict flag
        write(
            batch_id,
            (corpus_path, batch.join(dropped, "vec_id", "left_anti")),
            (
                store,
                assign.join(
                    dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left"
                ).select(
                    "vec_id",
                    "label",
                    "v",
                    "nrm",
                    F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
                ),
            ),
        )

    return batch_body(kernel, store, compact_every)


def run_semantic_ingest_sink(
    emb: DataFrame,
    centroids: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
    requantize_target: int | None = None,
) -> StreamingQuery:
    """Streaming EMBEDDING ingest with semantic (cosine) near-dup
    dedup — the SemDeDup twin of ``run_dedup_ingest_sink`` (block
    comment above): per batch, top-2 quantizer assignment,
    intra-batch pair probe, full-store cluster-key probe, exact
    cosine on deduped candidates only, batch-scoped overwrite writes
    with generation compaction from day one. ``requantize_target``
    opts into the corpus-sized quantizer (_semantic_ingest_batch
    docstring); default None = frozen quantizer."""
    return start(
        emb,
        _semantic_ingest_batch(
            centroids,
            store_path,
            corpus_path,
            compact_every,
            requantize_target=requantize_target,
        ),
        checkpoint,
    )


# ------------------------------------- URL front-door ingest sink
# The streaming twin of the batch URL pre-gate
# (operators/webgate.py, text_url_canonicalize_gate) — the fourth
# member of the crawl-ingest dedup family, and the one that runs
# FIRST in a real crawl: canonical-URL dedup at the frontier kills
# re-crawls and mirror spellings before any content cost (fetch,
# hash, embedding) is paid — webgate's own docstring says this is
# where the win is (VERDICT r10 item 5a).
#
# Per micro-batch: (a) canonicalize the raw URL (webgate rules 1-6 —
# narrow codegen'd string expressions, zero Python), (b) extract the
# registrable site and drop blocklisted rows (literal IN; a
# broadcast semi-join once the list outgrows a literal), (c) dedup
# WITHIN the batch on the canonical URL (keep-lowest-doc_id — one
# window, the batch gate's exact rule), (d) drop batch rows whose
# canonical URL the store has already seen, (e) write survivors'
# corpus rows and (url_canon, site, doc_id) store rows batch-scoped.
#
# Unlike the similarity sinks this is EXACT-KEY dedup, so the store
# probe is two broadcast-friendly joins instead of a candidate
# generation: store LEFT SEMI broadcast(batch urls) -> `seen` (at
# most |batch| rows), then batch LEFT ANTI broadcast(seen). The
# store is scanned but never shuffled, per-batch network cost is
# O(batch); at corpus sizes where even the scan dominates, the
# stated migration is the same bucket-pruned layout / KV probe the
# minhash sink documents.
#
# Exactly-once, crash and provenance: the batch-scoped store's
# (store.py). With id-ordered arrival,
# "first-seen canonical URL wins" is exactly the batch gate's
# keep-lowest-doc_id rule — what the registered parity query
# (stream_url_gate_compacted_parity, batch_windows.py) pins at the
# driver's value-hash level.


def _url_ingest_batch(store_path: str, corpus_path: str, compact_every: int):
    """Build the per-micro-batch body of the URL ingest sink (block
    comment above). Exposed as a factory so the registered parity
    query can drive the EXACT production code path with
    deterministic id-ordered batches, while the streaming wrapper
    hands the same function to foreachBatch. Input batches must
    carry ``doc_id`` and a raw ``url_raw`` column; all other columns
    ride through to the corpus."""
    from ..operators.webgate import (
        BLOCKED_SITES,
        canonicalize_url,
        extract_site,
    )

    store = BatchStore(store_path)

    def kernel(batch_df: DataFrame, batch_id: int) -> None:
        # (a)+(b): canonicalize, site-gate — one narrow map stage
        batch = (
            batch_df.withColumn(
                "url_canon", canonicalize_url(F.col("url_raw"))
            )
            .withColumn("site", extract_site(F.col("url_canon")))
            .filter(~F.col("site").isin(*BLOCKED_SITES))
        )
        # (c) intra-batch dedup: lowest doc_id per canonical URL.
        # Lazy lineage cut: the frame feeds the store probe AND the
        # two writes — it materializes once inside its first
        # consumer's job rather than as a separate eager job.
        w = Window.partitionBy("url_canon")
        kept = (
            batch.withColumn("_mn", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("_mn"))
            .drop("_mn")
            .localCheckpoint(eager=False)
        )
        # (d) cross-batch: earlier-arrived store rows only
        # (``BatchStore.seen``), then the at-most-|batch| matches
        # broadcast back for the anti-join — the store is never
        # shuffled (block comment). ``seen`` is consumed exactly once
        # by the broadcast build, so it needs no checkpoint.
        seen = store.seen(batch_df.sparkSession, batch_id, kept, "url_canon")
        if seen is not None:
            kept = kept.join(F.broadcast(seen), "url_canon", "left_anti")
            kept = kept.localCheckpoint(eager=False)
        # (e) both writes share the lazy checkpoint
        write(
            batch_id,
            (corpus_path, kept),
            (store, kept.select("url_canon", "site", "doc_id")),
        )

    return batch_body(kernel, store, compact_every)


def run_url_ingest_sink(
    docs: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming crawl-frontier URL ingest with canonical-URL dedup
    and blocklist gating — the batch URL pre-gate
    (operators/webgate.py) run continuously (block comment above).
    ``docs`` must carry ``doc_id`` and ``url_raw``."""
    return start(
        docs, _url_ingest_batch(store_path, corpus_path, compact_every), checkpoint
    )


# --------------------------- exact-substring span ingest sink
# The FIFTH crawl-ingest family member: the streaming twin of the
# batch Lee-et-al substring-dedup cut (operators/dedup.py
# dedup_repeated_spans_apply — 'Deduplicating Training Data Makes
# Language Models Better' semantics: every occurrence of a repeated
# >= SPAN_K-token substring is cut except the globally FIRST one).
# Run incrementally: the store persists the corpus's FIRST-SEEN gram
# keys, and a batch occurrence is cut iff an earlier occurrence
# exists — in the store (any gram already seen) or within the batch
# (a lower-(doc_id, pos) occurrence). With id-ordered arrival
# "earlier occurrence exists" is exactly the batch twin's
# row_number-over-(doc_id, pos) > 1 rule, which is what the
# registered parity query (stream_span_dedup_compacted_parity,
# batch_windows.py) pins at the driver's value-hash level. The
# contract is the SPAN_MIN_COUNT = 2 cut-all-but-first rule — the
# only form that decomposes as "cut iff any earlier occurrence";
# a higher min-count would need occurrence COUNTS in the store.
#
# Store shape: one row per DISTINCT gram in the corpus, the known
# cost of exact-substring dedup at scale (a suffix-array-class
# artifact: store rows ~ corpus token count). Per-batch cost is one
# store scan with a broadcast semi-join on the batch's gram keys
# (the store is never shuffled — the URL sink's probe device), plus
# the batch-local gram extraction and the doc-local cut. Generation
# compaction folds the per-batch partitions; at corpus sizes where
# the scan dominates, the stated migration is the bucket-pruned
# layout / KV probe the minhash sink documents. Measured headroom
# (SCALE.md round-12 knee probe): NO knee through 100 batches /
# 4.6M store rows — per-batch wall flat (1.2 s at 100 docs/batch,
# 2.1 s at 1,000 docs/batch) with the scan term invisible under the
# fixed lifecycle cost; re-probe when a deployment's store passes
# ~10^8 grams.
#
# Exactly-once, crash and provenance: the batch-scoped store's
# (store.py). Grams come from the batch queries' extractor
# (``span_grams``: xxhash64): cut decisions are a function of gram
# EQUALITY only, so any injective hash yields the same cuts, which is
# why the parity oracle can replay the md5 chain.


def _span_ingest_batch(store_path: str, corpus_path: str, compact_every: int):
    """Build the per-micro-batch body of the span-dedup ingest sink
    (block comment above). Exposed as a factory so the registered
    parity query can drive the EXACT production code path with
    deterministic id-ordered batches, while the streaming wrapper
    hands the same function to foreachBatch. Input batches must
    carry ``doc_id`` and ``text``."""
    from ..functions.text import tokens
    from ..operators.dedup import SPAN_K, span_cut_apply, span_grams

    store = BatchStore(store_path)

    def kernel(batch_df: DataFrame, batch_id: int) -> None:
        # lazy lineage cuts: toks feeds the gram extraction AND the
        # final cut, grams feeds the store probe AND the occurrence
        # window — each materializes once inside its first consumer's
        # job rather than as a separate eager job of its own
        toks = batch_df.select(
            "doc_id", tokens(F.col("text")).alias("t")
        ).localCheckpoint(eager=False)
        grams = span_grams(toks).localCheckpoint(eager=False)
        # intra-batch canonical occurrence as a HASH AGGREGATE (min
        # (doc_id, pos) struct per gram) instead of the old
        # row_number window: the window shuffled AND globally sorted
        # every gram row per batch; the aggregate partial-combines
        # map-side and shuffles only ~one row per distinct batch
        # gram, with no sort anywhere (guide §2.3 "aggregate before
        # you shuffle"). The cut test "an earlier occurrence exists"
        # is (doc_id, pos) > min over the gram group — precisely the
        # old rn > 1 — so the removable set is bit-identical.
        firsts = grams.groupBy("g").agg(
            F.min(F.struct("doc_id", "pos")).alias("f")
        )
        # cross-batch: grams the store has already seen
        # (``BatchStore.seen``), broadcast back; the store is never
        # shuffled.
        seen = store.seen(batch_df.sparkSession, batch_id, firsts, "g")
        if seen is not None:
            firsts = firsts.join(
                F.broadcast(seen.withColumn("_seen", F.lit(True))),
                "g",
                "left",
            )
        else:
            firsts = firsts.withColumn(
                "_seen", F.lit(None).cast("boolean")
            )
        # firsts is one row per distinct batch gram — micro-batch-
        # bounded, the same frame the store probe already broadcasts,
        # so broadcasting it back onto the gram rows keeps the whole
        # occurrence marking map-side; one lazy lineage cut shares
        # the aggregate between the broadcast build and the store
        # append below
        firsts = firsts.localCheckpoint(eager=False)
        # removable: any occurrence with an earlier one — a lower
        # (doc_id, pos) within the batch, or the gram already in the
        # store (where ALL batch occurrences lose to the stored
        # first)
        removable = (
            grams.join(F.broadcast(firsts), "g")
            .filter(
                F.col("_seen")
                | (F.struct("doc_id", "pos") != F.col("f"))
            )
            .select(
                "doc_id",
                F.col("pos").cast("long").alias("s"),
                (F.col("pos") + SPAN_K).cast("long").alias("e"),
            )
        )
        # new first-seen grams enter the store (their first
        # occurrence rides along for debuggability)
        new_firsts = firsts.filter(F.col("_seen").isNull()).select(
            "g",
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.pos").alias("pos"),
        )
        # the writes share the lazy checkpoints (grams / firsts — the
        # block manager computes each checkpointed partition once and
        # the other write's job reads the block). The cleaned frame is
        # consumed only by its write — it streams straight into the
        # parquet sink with no pre-write checkpoint.
        write(
            batch_id,
            (corpus_path, span_cut_apply(toks, removable)),
            (store, new_firsts),
        )

    return batch_body(kernel, store, compact_every)


def run_span_dedup_ingest_sink(
    docs: DataFrame,
    store_path: str,
    corpus_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming exact-substring dedup ingest — the batch Lee-et-al
    cut (dedup_repeated_spans_apply) run continuously (block comment
    above). ``docs`` must carry ``doc_id`` and ``text``; the corpus
    output is the cleaned per-doc frame (n_tokens_before/after,
    n_spans_cut, cleaned_text)."""
    return start(
        docs, _span_ingest_batch(store_path, corpus_path, compact_every), checkpoint
    )


# ------------------------------------------------ CDC snapshot sink


def run_cdc_sink(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming CDC apply — ``cdc_latest_state`` run continuously:
    every micro-batch MERGEs into a persisted current-state store with
    last-writer-wins per user and tombstone DELETES (an 'error' event
    that wins removes the key from the store entirely — plain keyed
    upsert cannot express that).

    Cross-batch ordering is handled by keeping the winning event's
    full (ts, event_id) in the store and re-running the winner
    election over store-row-vs-batch-rows per touched key: a late
    batch carrying an OLDER event than the stored state loses the
    election and the store is unchanged — blind replace-on-arrival
    (what foreachBatch upsert alone would do) would regress the key.
    Untouched keys pass through via anti-join without entering the
    window. Idempotent on replay: re-electing against a store that
    already absorbed the batch yields the same winners. At 100 TB the
    store is a hive-partitioned table and this merge runs
    partition-scoped (sinks.merge_upsert_partition_scoped's pruning
    contract); cost is O(touched partitions), not O(store)."""
    from ..sinks import rewrite_table

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cols = ["user_id", "ts", "event_type", "value", "event_id"]
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        batch_latest = (
            batch_df.select(*cols)
            .withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn")
        )

        def build(store: DataFrame | None) -> DataFrame:
            if store is None:
                contenders = batch_latest
                untouched = None
            else:
                store = store.select(*cols)
                keys = batch_latest.select("user_id")
                untouched = store.join(keys, "user_id", "left_anti")
                contenders = store.join(keys, "user_id", "left_semi").unionByName(
                    batch_latest
                )
            winners = (
                contenders.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1")
                .drop("_rn")
            )
            # tombstone winners STAY in the store as rows (Kafka-compaction
            # semantics) and are filtered at read time: physically deleting
            # the key would forget the tombstone's ts, and an out-of-order
            # OLDER event in a later batch would then resurrect the key
            # with stale state (observed exactly that in the multi-batch
            # parity test before this retention was added)
            return winners if untouched is None else untouched.unionByName(winners)

        # the lease covers the store read as well as the swap
        rewrite_table(batch_df.sparkSession, store_path, build)

    return start(events, batch_body(apply_batch), checkpoint)


def cdc_store_state(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the streaming CDC store in ``cdc_latest_state``'s output
    shape (minus n_changes, which a latest-only store cannot carry).
    Tombstone rows are retained in the store for ordering correctness
    and filtered HERE. Requires at least one committed batch (the
    store path must exist)."""
    from ..operators.scd import CDC_TOMBSTONE

    return spark.read.parquet(store_path).filter(
        F.col("event_type") != CDC_TOMBSTONE
    ).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.round("value", 6).alias("last_value"),
    )


# ------------------------------------------------- debounce stream

DEBOUNCE_OUT_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, "
    "gap_us BIGINT, kept BOOLEAN"
)
DEBOUNCE_STATE_SCHEMA = "last_us BIGINT"


def debounce_stream(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming twin of the batch ``window_debounce_events``
    operator: per (user, event_type) the state store holds ONE
    timestamp — the key's latest seen event — and each arriving event
    is flagged noise when it lands within DEBOUNCE_US of it. The
    within-batch recurrence is vectorized (a shifted diff over the
    Arrow batch sorted by (ts, event_id)); only the single carry-in
    value crosses batches. State is O(1) per live key AND evicted:
    each key's timeout is set to last-event-time + DEBOUNCE, so once
    the watermark passes that point the key's state is removed
    (EventTimeTimeout + ``state.remove()`` on the timed-out path —
    the watermark alone never evicts applyInPandasWithState state,
    ADVICE r5 #1). Eviction preserves the ``kept`` decision exactly
    under the in-order contract below: any later in-order event has
    ts > watermark > last + DEBOUNCE, so its gap clears the threshold
    and the no-state path flags it kept, same as the batch twin. The
    diagnostic ``gap_us`` column is the one bounded-state trade: for
    such an event it reads NULL (unknown-but-over-threshold) where
    the batch twin, which sees all history, reports the exact gap —
    you cannot report a gap across state you no longer hold.

    In-order contract (the standard one for this operator): events
    for a key must arrive in event-time order across micro-batches —
    the same assumption the batch twin encodes by sorting. Out-of-
    order arrivals within a batch are handled by the sort; across
    batches they would need a watermark-deep buffer, which is the
    documented trade for O(1) state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.windows import DEBOUNCE_US

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # watermark passed last_us + DEBOUNCE: no in-order event
            # can ever see this carry-in again — drop the key's state
            state.remove()
            return
        last = state.get[0] if state.exists else None
        # guard BEFORE concat: pd.concat([]) raises, and the timed-out
        # path above fires with an empty iterator (review r5 #3)
        dfs = [d for d in pdfs if len(d)]
        if not dfs:
            return
        rows = pd.concat(dfs)
        rows = rows.sort_values(["ts", "event_id"])
        us = rows["ts"].astype("int64") // 1000  # ns -> us
        prev = us.shift(1)
        if last is not None:
            prev.iloc[0] = last
        gap = (us - prev).astype("Int64")
        kept = gap.isna() | (gap >= DEBOUNCE_US)
        last_us = int(us.iloc[-1])
        state.update((last_us,))
        # evict once the watermark passes last + DEBOUNCE; the API
        # rejects timestamps at/behind the current watermark, so for
        # a key whose events are already that old, fire next batch
        timeout_ms = max(
            last_us // 1000 + DEBOUNCE_US // 1000,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            {
                "event_id": rows["event_id"].values,
                "user_id": [key[0]] * len(rows),
                "event_type": [key[1]] * len(rows),
                "gap_us": gap.values,
                "kept": kept.values,
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update,
            DEBOUNCE_OUT_SCHEMA,
            DEBOUNCE_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# --------------------------------------------------- monitor sinks
# Seven sinks keep a monitor current over a stream: each micro-batch
# reduces to a PARTIAL of additive sufficient statistics (cell counts,
# decimal sums and counts, bin counts, extrema), and the reader folds
# the partials through the SAME tail the batch operator uses, so the
# monitor is bit-equal to its batch twin by construction. Additive
# state cannot be re-added on replay; the batch-scoped store makes a
# replay rewrite its partial instead, and the readers' ``fold`` dedups
# on the provenance key, so neither a replay nor a crash during
# compaction double counts (store.py). Partials are tiny, so each
# batch's is written as one file; the partition count, not the rows,
# is the growth term, and ``compact_every`` bounds it (SCALE.md
# "Monitor-sink store growth").


def _run_monitor(
    df: DataFrame, root: str, checkpoint: str, compact_every: int, partial
) -> StreamingQuery:
    """Start a monitor sink: every batch writes ``partial(batch_df)``
    as its partition of the store at ``root``."""
    store = BatchStore(root)

    def kernel(batch_df: DataFrame, batch_id: int) -> None:
        write(batch_id, (store, partial(batch_df).coalesce(1)))

    return start(df, batch_body(kernel, store, compact_every), checkpoint, "update")


def run_cms_sink(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming count-min sketch maintenance: every micro-batch
    writes ITS OWN d x w cell counts (a bounded-size aggregate —
    CMS_D x CMS_W rows regardless of batch size). The live sketch is
    the cell-wise SUM over batch partitions — the mergeability that
    makes CMS the streaming-native frequency structure
    (operators/stats.py agg_heavy_hitters_cms is the batch twin;
    ``read_cms_estimates`` below probes the merged sketch with the
    identical hash family, so stream-maintained estimates are
    bit-equal to a batch build over the same rows)."""
    from ..operators.stats import cms_hash_explode

    return _run_monitor(
        events,
        store_path,
        checkpoint,
        compact_every,
        lambda b: cms_hash_explode(b, "user_id")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt")),
    )


def read_cms_estimates(spark: SparkSession, store_path: str, keys: DataFrame) -> DataFrame:
    """Probe the stream-maintained sketch: merge the batch partitions
    cell-wise, then estimate every key in ``keys`` (a ``user_id``
    column) as the min over its CMS_D cells — identical hash family
    and arithmetic as the batch operator (the shared
    ``cms_hash_explode`` layout). An UNSEEN key's empty cells count
    as 0 — left join + coalesce, never an inner join that would
    inflate the min over populated cells only or drop the key from
    the output (review r5 round 2 #3; a CMS must never report an
    unseen key above its collision mass)."""
    from ..operators.stats import cms_hash_explode

    merged = (
        BatchStore(store_path)
        .fold(spark, ["j", "bucket"])
        .groupBy("j", "bucket")
        .agg(F.sum("cell_cnt").alias("cell_cnt"))
    )
    probes = cms_hash_explode(keys, "user_id", "user_id")
    return (
        probes.join(F.broadcast(merged), ["j", "bucket"], "left")
        .groupBy("user_id")
        .agg(
            F.min(F.coalesce(F.col("cell_cnt"), F.lit(0)))
            .cast("long")
            .alias("cms_est")
        )
    )


def run_cusum_sink(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming CUSUM change-point maintenance: every micro-batch
    writes its (event_type, day) PARTIAL moments — exact DECIMAL
    value-sum and row count. Daily means are NEVER computed per
    batch: a day split across micro-batches must contribute one mean
    computed from the MERGED sum/count, so the stored state is the
    algebraic partial, and ``read_cusum_changepoints`` below folds the
    partitions and hands the merged daily frame to the SAME
    ``cusum_from_daily`` tail the batch operator uses."""
    return _run_monitor(
        events,
        store_path,
        checkpoint,
        compact_every,
        lambda b: b.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(
            F.sum(F.round("value", 8).cast("decimal(18,8)")).alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
        ),
    )


def read_cusum_changepoints(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the stream-maintained daily partials and run the shared
    batch CUSUM tail: merge = decimal-sum of sums + sum of counts per
    (event_type, day), mean = round(merged_sum/merged_cnt, 8) — the
    identical expression the batch operator computes from raw rows."""
    from ..operators.stats import cusum_from_daily

    merged = (
        BatchStore(store_path)
        .fold(spark, ["event_type", "day"])
        .groupBy("event_type", "day")
        .agg(F.sum("sv").alias("sv"), F.sum("cnt").alias("cnt"))
        .select(
            "event_type",
            "day",
            # the merged-partial form of stats.decimal_mean8: same
            # round(sum/count, 8)::DECIMAL(18,8), with sum/count
            # arriving pre-folded — keep in lockstep with that helper
            F.round(F.col("sv").cast("double") / F.col("cnt"), 8)
            .cast("decimal(18,8)")
            .alias("m"),
        )
    )
    return cusum_from_daily(merged)


def run_psi_sink(
    events: DataFrame,
    ref: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming PSI drift monitor: the reference frame's decile
    fences and bin counts are FIXED at sink creation (the deployed
    model's view of the world — exactly the batch operator's
    fit-on-reference-only rule, made explicit by the API), written
    once to ``<store>/ref``; every micro-batch then bins its values
    against those fences and writes its (bin, n) PARTIAL counts to
    the ``<store>/cur`` store.

    ``read_psi_drift`` folds the partitions and hands (bin, nr, nc)
    to the SAME ``psi_from_bin_counts`` tail the batch query uses:
    feeding the sink ref = first half / stream = second half of a
    table reproduces ``stats_psi_drift`` on that table BIT-EQUALLY
    (pinned in test_streaming). The one-off ``ref`` write never
    grows."""
    from ..operators.stats import psi_bin_expr, psi_decile_cuts

    cuts = psi_decile_cuts(ref.filter(F.col("value").isNotNull()))

    def bin_counts(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("value").isNotNull())
            .select(psi_bin_expr(cuts).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    bin_counts(ref).coalesce(1).write.mode("overwrite").parquet(f"{store_path}/ref")
    return _run_monitor(
        events, f"{store_path}/cur", checkpoint, compact_every, bin_counts
    )


def read_psi_drift(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the stream-maintained bin partials against the frozen
    reference counts and emit the batch operator's exact output
    columns (shared psi_from_bin_counts tail). Bins seen by only one
    side appear with a zero on the other (full outer + coalesce),
    matching the batch query's bins-with-any-row semantics."""
    from ..operators.stats import psi_from_bin_counts

    ref_cnt = (
        spark.read.parquet(f"{store_path}/ref")
        .groupBy("bin")
        .agg(F.sum("n").alias("nr"))
    )
    cur_cnt = (
        BatchStore(f"{store_path}/cur")
        .fold(spark, ["bin"])
        .groupBy("bin")
        .agg(F.sum("n").alias("nc"))
    )
    cnt = (
        ref_cnt.join(cur_cnt, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("nr", F.lit(0)).alias("nr"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
        )
    )
    return psi_from_bin_counts(cnt)


def run_kanonymity_sink(
    customers: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming privacy-audit maintenance: an ingest stream of
    customer-shaped rows keeps the k-anonymity/l-diversity state
    current so a release gate can be checked at any time without
    re-scanning the accumulated corpus. Every micro-batch writes its
    (nationkey, mktsegment, band) PARTIAL counts — the algebraic
    grain ``kanonymity_band_counts`` defines: counts merge by
    addition and distinct sensitive bands are rows at the stored
    grain, so the audit is a pure fold.

    ``read_kanonymity_audit`` folds the partitions through the SAME
    ``kanonymity_from_band_counts`` tail the batch operator uses —
    streaming a table in any batch slicing reproduces
    ``privacy_k_anonymity`` on that table bit-equally (pinned in
    test_streaming)."""
    from ..operators.quality import kanonymity_band_counts

    return _run_monitor(
        customers, store_path, checkpoint, compact_every, kanonymity_band_counts
    )


def read_kanonymity_audit(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the stream-maintained band-count partials and run the
    shared audit tail: merged cnt per (QI, band), then group_size /
    l_sensitive / threshold flags — identical expressions to the
    batch query's."""
    from ..operators.quality import kanonymity_from_band_counts

    merged = (
        BatchStore(store_path)
        .fold(spark, ["nationkey", "mktsegment", "band"])
        .groupBy("nationkey", "mktsegment", "band")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return kanonymity_from_band_counts(merged)


def run_histogram_sink(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming value-distribution monitor: each micro-batch writes
    its (event_type, bin, n, lo_raw, hi_raw) equi-width histogram
    PARTIAL; ``read_histogram`` folds partitions into exactly the
    batch operator's output (operators/breadth.py
    agg_histogram_equi_width) — counts add, extrema take min/max, so
    the fold is bit-equal by construction. The drift use: diff
    today's folded histogram against a reference release to see
    value-distribution shift at bin grain (the PSI sink's sibling
    with the raw distribution retained, not just the divergence
    scalar)."""
    from ..operators.breadth import HIST_HI, HIST_LO, N_HIST_BINS

    width = (HIST_HI - HIST_LO) / N_HIST_BINS
    bin_ = F.least(
        F.floor((F.col("value") - HIST_LO) / width),
        F.lit(N_HIST_BINS - 1),
    ).cast("int")
    return _run_monitor(
        events,
        store_path,
        checkpoint,
        compact_every,
        lambda b: b.groupBy("event_type", bin_.alias("bin")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo_raw"),
            F.max("value").alias("hi_raw"),
        ),
    )


def read_histogram(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the stream-maintained histogram partials to the batch
    operator's exact output: counts sum, extrema min/max, THEN the
    round(4) — rounding per-partial first would break bit-equality."""
    return (
        BatchStore(store_path)
        .fold(spark, ["event_type", "bin"])
        .groupBy("event_type", "bin")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.min("lo_raw"), 4).alias("lo_value"),
            F.round(F.max("hi_raw"), 4).alias("hi_value"),
        )
    )


def run_oov_sink(
    docs: DataFrame,
    vocab_src: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming out-of-vocabulary drift monitor: the vocabulary is
    FROZEN at sink creation from the reference corpus (the deployed
    tokenizer's world view — the run_psi_sink fit-on-reference rule
    applied to text), written once to ``<store>/vocab``; every
    micro-batch of incoming documents then writes its (in_vocab,
    token_count) PARTIAL sums to the ``<store>/cur`` store. Token
    counts are additive sufficient statistics, so the live OOV rate
    is a pure fold — when it climbs, the fixed tokenizer is shredding
    fresh text into bytes and the vocab (or the upstream filter)
    needs attention. ``read_oov_rate`` folds the partitions into the
    corpus-level (n_tokens, n_oov, oov_rate)."""
    from ..operators.text import OOV_VOCAB_K
    from ..functions.text import tokens as _tokens

    vocab = (
        vocab_src.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(OOV_VOCAB_K)
        .select("w")
    )
    vocab.coalesce(1).write.mode("overwrite").parquet(f"{store_path}/vocab")

    def token_counts(batch_df: DataFrame) -> DataFrame:
        v = batch_df.sparkSession.read.parquet(f"{store_path}/vocab").withColumn(
            "in_vocab", F.lit(True)
        )
        toks = batch_df.select(F.explode(_tokens(F.col("text"))).alias("w"))
        return toks.join(F.broadcast(v), "w", "left").agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )

    return _run_monitor(
        docs, f"{store_path}/cur", checkpoint, compact_every, token_counts
    )


def read_oov_rate(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the stream-maintained token partials into the corpus OOV
    rate — same n_oov/n_tokens expression as the batch operator's
    per-doc column, at corpus grain."""
    return (
        BatchStore(f"{store_path}/cur")
        .fold(spark, [])
        .agg(F.sum("n_tokens").alias("n_tokens"), F.sum("n_oov").alias("n_oov"))
        .select(
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def error_rate_wilson_stream(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Watermarked daily error-rate monitor with Wilson 95% bounds —
    identical aggregation body to the oracle-checked batch twin
    (batch_windows.wilson_error_rate_agg): windowed counts are
    incrementally maintainable, the interval is a post-agg
    projection, the watermark bounds pane state. The SRE sibling of
    the PSI/OOV/k-anonymity monitor sinks."""
    from .batch_windows import wilson_error_rate_agg

    return wilson_error_rate_agg(events.withWatermark("ts", watermark))


def run_sprt_sink(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    compact_every: int = DEDUP_INGEST_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming sequential-test monitor: every micro-batch folds its
    events to per-day (trials, successes) PARTIALS in the
    ``<store>/days`` store. The cumulative LLR and Wald decision are
    computed at READ time by the same ``sprt_from_day_counts`` tail
    the batch query uses (breadth7f.py), so the monitor's view of the
    experiment is bit-equal to the batch replay by construction."""
    from ..operators.breadth7f import sprt_day_counts

    return _run_monitor(
        events, f"{store_path}/days", checkpoint, compact_every, sprt_day_counts
    )


def read_sprt_decision(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the per-batch day partials and hand the totals to the
    SAME SPRT tail the batch query uses — identical output columns,
    bit-equal to ``ab_sequential_sprt`` over the same events."""
    from ..operators.breadth7f import sprt_from_day_counts

    days = (
        BatchStore(f"{store_path}/days")
        .fold(spark, ["day"])
        .groupBy("day")
        .agg(
            F.sum("trials").alias("trials"),
            F.sum("successes").alias("successes"),
        )
    )
    return sprt_from_day_counts(days)
