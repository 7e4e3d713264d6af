"""Batch-scoped stores: the one state format behind the streaming sinks.

Every ingest and monitor sink in ``runtime.py`` keeps its state in a
store written through this module, and this module is the only code
that knows the format. A sink supplies a kernel, the per-batch work
that decides what to write; ``batch_body`` wraps it, ``start`` runs it
as a ``foreachBatch`` stream, and ``BatchStore`` reads, writes, folds
and compacts the store.

Layout. A store is a directory of ``batch=<id>`` partitions. Batch
``b`` overwrites exactly its own ``batch=b`` directory of every store
and corpus it writes, and Spark's ``_SUCCESS`` marker is the commit
point of that directory. Compaction folds committed partitions into
GENERATION partitions with negative ids (``batch=-1``, ``-2``, ...).
Every store row carries its origin batch id in a ``src_batch`` column,
an INT stamped with ``F.lit(batch_id)`` at write time and kept verbatim
through every fold. A corpus (the sink's output, never probed) is
written in the same per-batch layout without the stamp. Each sink
keeps one store, which ``batch_body`` folds. Next to it live only the
semantic sink's ``<store>/_quantizer/qbatch=<id>`` quantizer versions
(the underscore hides them from partition discovery) and the one-off
``ref`` and ``vocab`` frames beside the monitors' ``cur/`` or ``days/``
store.

Exactly-once. Structured Streaming replays at most the one batch whose
commit is missing from the checkpoint. A replayed batch recomputes
from what it reads and overwrites its own directories, so a replay at
any crash point, including one between two of its writes, converges to
the first run's result instead of appending twice. That also lets a
batch's writes run concurrently (``write``): they are independent
overwrites, and any order of completion is one the replay heals. The
same rule makes additive monitor partials safe: a replay rewrites the
partial, it never adds it twice.

Provenance. A probe must see exactly what the batch's first run saw:
``earlier(spark, b)`` keeps the rows with ``src_batch < b``. The
partition filter ``batch < b`` only prunes directories; the row filter
is the contract, because a generation (negative id, so it always passes
the partition filter) can hold rows of any folded batch, including the
replayed batch's own rows and rows that arrived later. Without the row
filter a replay would dedup against itself and overwrite its corpus
partition empty, and a fresh-checkpoint reprocess against a folded
store would drop rows the first run kept. With it, even that
disaster-recovery reprocess is bit-exact.

Compaction (``_compact_partition_store``). Once ``threshold`` committed
partitions accumulate they fold into a new generation, keeping the
per-batch scan O(generations + recent batches). Only sealed partitions
other than the current batch fold: the current one is about to be
overwritten by this run, and a marker-less positive one belongs to an
uncommitted batch that will be replayed. A folded batch is committed,
so it is never replayed. The generation is written first and its
sources deleted after. A crash mid-write leaves a marker-less
generation, which the next fold deletes (its rows are all still in the
sources). A crash between write and delete leaves rows in both the
generation and a source; the next fold heals it by dropping duplicates
on the FULL row. Never on a key subset: crash duplicates are
bit-identical file copies, while a key that legitimately recurs with a
different payload (a re-delivered doc_id with edited text) must keep
both rows, as the unfolded store would. Leaf reads carry no ``batch``
column, so the full row is the payload identity. A reader that folds
the store from its root (``fold``) sees ``batch`` differ between the
two copies, so it drops duplicates on the ``src_batch`` provenance key
instead; that keeps additive monitor sums from double counting after
such a crash or for a reader running during a fold. On an object store,
swap the directory delete for the committer-based equivalent; the
write-then-delete order is the portable part.

Every store row carries ``src_batch`` (``write`` stamps it, every fold
keeps it), and a store without the column is not one this module reads.
Likewise the banded sinks' store rows (minhash and pHash) carry the
band key and the hash, one row per (doc, band). A store written by the
earlier two-store minhash layout (signature rows, with the band rows in
a ``<store>_bands`` sibling) has no band columns: the probe fails on it
with an unresolved-column error rather than reading it as empty.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import run_in_driver_threads

_QUANTIZER_DIR = "_quantizer"


def start(
    df: DataFrame, body, checkpoint: str, mode: str = "append"
) -> StreamingQuery:
    """Run ``body`` on every micro-batch of ``df`` until the available
    input is drained (the availableNow trigger)."""
    return (
        df.writeStream.foreachBatch(body)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def batch_body(kernel, store: BatchStore | None = None, compact_every: int = 0):
    """The per-batch wrapper of every sink: skip an empty batch, fold
    the sink's store's committed partitions (so this batch already
    probes the compacted layout), then call ``kernel(batch_df,
    batch_id)``."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if store is not None:
            store.compact(batch_df.sparkSession, batch_id, compact_every)
        kernel(batch_df, batch_id)

    return body


def write(batch_id: int, *outputs) -> None:
    """Overwrite ``batch=<batch_id>`` of every ``(target, frame)``
    output, all at once from driver threads: a ``BatchStore`` target
    gets its rows stamped with ``src_batch``, a path (a corpus) gets
    the frame as it is. The frames share the batch's materialized
    checkpoints, so running the jobs one after another would only
    stack their driver floors; any failure is raised once every write
    has finished, as a sequential write would fail."""

    def overwrite(target, df: DataFrame) -> None:
        if isinstance(target, BatchStore):
            df, target = df.withColumn("src_batch", F.lit(batch_id)), target.root
        df.write.mode("overwrite").parquet(f"{target}/batch={batch_id}")

    run_in_driver_threads(lambda o=o: overwrite(*o) for o in outputs)


class BatchStore:
    """One store root."""

    def __init__(self, root: str):
        self.root = root
        self._schemas: dict = {}

    def compact(self, spark: SparkSession, batch_id: int, threshold: int) -> None:
        _compact_partition_store(spark, self.root, batch_id, threshold)

    def earlier(self, spark: SparkSession, batch_id: int) -> DataFrame | None:
        """The rows batch ``batch_id`` may see: those that arrived in
        an earlier batch. None only when the store does not exist yet;
        an existing store that cannot be read raises, so a read failure
        never passes for an empty store."""
        if not os.path.exists(self.root):
            return None
        rows = _cached_schema_read(spark, self.root, self._schemas)
        return rows.filter(
            (F.col("batch") < batch_id) & (F.col("src_batch") < batch_id)
        )

    def seen(
        self, spark: SparkSession, batch_id: int, keys: DataFrame, col: str
    ) -> DataFrame | None:
        """The distinct ``col`` values of ``keys`` that an earlier batch
        already stored: the earlier rows left-semi-joined with the
        broadcast batch keys, so the store is scanned in place and never
        shuffled. None when the store does not exist yet."""
        earlier = self.earlier(spark, batch_id)
        if earlier is None:
            return None
        return (
            earlier.join(F.broadcast(keys.select(col)), col, "left_semi")
            .select(col)
            .distinct()
        )

    def fold(self, spark: SparkSession, keys) -> DataFrame:
        """Every row of the store once, for a reader that folds it:
        duplicates are dropped on ``src_batch`` plus ``keys``."""
        return spark.read.parquet(self.root).dropDuplicates(["src_batch", *keys])


def numbered_dirs(root: str, key: str = "batch") -> dict[int, str]:
    """``{id: path}`` of the ``<key>=<id>`` directories under ``root``
    (empty when ``root`` does not exist)."""
    if not os.path.exists(root):
        return {}
    out: dict[int, str] = {}
    for d in os.listdir(root):
        name, _, value = d.partition("=")
        if name == key:
            try:
                out[int(value)] = os.path.join(root, d)
            except ValueError:
                continue
    return out


def _sealed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _compact_partition_store(
    spark: SparkSession,
    root: str,
    current_batch: int,
    threshold: int,
    rewrite=None,
) -> None:
    """Fold the committed partitions and generations of ``root`` into
    one new generation once ``threshold`` committed partitions
    accumulate (module docstring: which partitions fold, the
    write-then-delete order, the full-row crash heal). ``rewrite``
    replaces the full-row dedup with the caller's own transform of the
    source rows (the semantic sink relabels its store through it)."""
    committed, gens = _foldable_partitions(root, current_batch)
    if committed is None or len(committed) < threshold:
        return
    sources = list(committed.values()) + list(gens.values())
    if not sources:
        return
    rows = spark.read.parquet(*sources)
    rows = rows.dropDuplicates() if rewrite is None else rewrite(rows)
    rows.write.mode("overwrite").parquet(
        os.path.join(root, f"batch={min(gens, default=0) - 1}")
    )
    for p in sources:
        shutil.rmtree(p, ignore_errors=True)


def _foldable_partitions(
    root: str, current_batch: int
) -> tuple[dict[int, str] | None, dict[int, str]]:
    """``(committed, generations)`` a fold may read, after deleting
    crashed marker-less generations (their rows all still live in the
    sources they were folding, so folding one as a source would lose
    data when the sources are deleted). ``(None, {})`` when the store
    does not exist."""
    if not os.path.exists(root):
        return None, {}
    parts = numbered_dirs(root)
    for b, p in list(parts.items()):
        if b < 0 and not _sealed(p):
            shutil.rmtree(p, ignore_errors=True)
            del parts[b]
    committed = {
        b: p for b, p in parts.items() if 0 <= b != current_batch and _sealed(p)
    }
    gens = {b: p for b, p in parts.items() if b < 0}
    return committed, gens


def _cached_schema_read(spark: SparkSession, path: str, box: dict) -> DataFrame:
    """Read a store with its parquet schema inferred once per store
    instance and reused for every later batch (the sink's own writes
    fix it), skipping per-batch footer sampling."""
    if path in box:
        return spark.read.schema(box[path]).parquet(path)
    df = spark.read.parquet(path)
    box[path] = df.schema
    return df


def quantizer_path(root: str, qbatch: int) -> str:
    return os.path.join(root, _QUANTIZER_DIR, f"qbatch={qbatch}")


def _quantizer_versions(root: str) -> dict[int, str]:
    """Sealed persisted quantizer versions of a store: {qbatch: path}."""
    versions = numbered_dirs(os.path.join(root, _QUANTIZER_DIR), "qbatch")
    return {b: p for b, p in versions.items() if _sealed(p)}
