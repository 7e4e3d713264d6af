"""Multimodal-column operators — BASELINE.json north star: treat
image/audio/video payloads as opaque ``binary`` columns with a typed
metadata struct; decode / feature-extract / frame-sample run as
Arrow-batched ``mapInPandas`` stages.

The container has no image/audio codecs, so the *decode* step is a
clearly-marked stub (``decode_media`` raises NotImplementedError; the
queries use byte-level features instead) — but everything Spark-side
is real and tested: the binary column, the metadata struct schema, the
mapInPandas signature, the Arrow batch shape, and the frame-sampling
fan-out.

Scale design: binary payloads ride the same columnar batches as
everything else; mapInPandas streams Arrow record batches through
Python one partition at a time (no collect, no per-row pickling).
At 100 TB you partition by content-size buckets so one giant video
doesn't skew a task, and push the metadata filter (media_type,
byte-length bounds) BEFORE the Python stage so the slow path sees
only qualifying rows.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..sources import load_table
from .dedup import band_join

FRAME_BYTES = 64  # bytes per pseudo-frame of a 'video' payload
FRAME_STRIDE = 4  # sample every 4th frame

def decode_media(blob: bytes, media_type: str):
    """STUB — real pixel/sample decode needs codec libraries not
    present in this container (PIL/ffmpeg). The Spark-side contract
    (binary in, array/tensor out via mapInPandas) is exercised by the
    byte-level feature queries below."""
    raise NotImplementedError(
        f"decode_media({media_type}): codec libraries are not available; "
        "byte-level features are implemented in mm_binary_features"
    )


def with_media_columns(docs: DataFrame) -> DataFrame:
    """Attach the multimodal layout to the documents table: payload
    bytes (here: the utf-8 text standing in for media bytes) + typed
    metadata struct derived deterministically from doc_id."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video")
            .alias("media_type"),
            (32 + (F.col("doc_id") % 8) * 16).cast("int").alias("width"),
            (32 + (F.col("doc_id") % 4) * 16).cast("int").alias("height"),
        ).alias("meta"),
    )


_MEDIA_TYPE_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio'
         ELSE 'video' END
"""

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


@query(
    "mm_binary_features",
    oracle=f"""
    SELECT doc_id,
           {_MEDIA_TYPE_SQL} AS media_type,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
           md5(text) AS content_md5
    FROM documents
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over the binary column via
    Arrow-batched mapInPandas (the decode-adjacent slow path, run only
    after metadata filters). Features are computed from the actual
    payload bytes Python-side; the oracle recomputes them from the
    source text (payload == utf-8(text), all-ASCII corpus)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mm = with_media_columns(docs).select(
        "doc_id", F.col("meta.media_type").alias("media_type"), "blob"
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": blobs.map(len).astype("int32"),
                    "first_byte": blobs.map(lambda b: b[0]).astype("int32"),
                    "content_md5": blobs.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return mm.mapInPandas(feats, _FEATURES_SCHEMA)


_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


@query(
    "mm_frame_sample",
    oracle=f"""
    WITH v AS (
        SELECT doc_id, text,
               CAST(ceil(octet_length(encode(text)) * 1.0 / {FRAME_BYTES}) AS INT) AS n_frames
        FROM documents
        WHERE doc_id % 3 = 2
    )
    SELECT doc_id, n_frames,
           CAST(f AS INT) AS frame_idx,
           md5(substr(text, f * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
    FROM v, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(f)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling of 'video' payloads: metadata filter FIRST
    (media_type = 'video' never reaches Python), then mapInPandas
    slices every {FRAME_STRIDE}th {FRAME_BYTES}-byte pseudo-frame and
    fingerprints it — one input row fans out to ~n_frames/stride
    output rows, the decode-then-sample shape of a real video
    pipeline."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mm = (
        with_media_columns(docs)
        .filter(F.col("meta.media_type") == "video")
        .select("doc_id", "blob")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "n_frames": [],
                "frame_idx": [],
                "frame_md5": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = -(-len(blob) // FRAME_BYTES)
                for f in range(0, n_frames, FRAME_STRIDE):
                    chunk = blob[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]
                    rows["doc_id"].append(doc_id)
                    rows["n_frames"].append(n_frames)
                    rows["frame_idx"].append(f)
                    rows["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(rows).astype(
                {"n_frames": "int32", "frame_idx": "int32"}
            )

    return mm.mapInPandas(sample, _FRAMES_SCHEMA)


@query(
    "mm_metadata_stats",
    oracle=f"""
    SELECT {_MEDIA_TYPE_SQL.replace("doc_id", "doc_id")} AS media_type,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(32 + (doc_id % 8) * 16) AS INT) AS max_width
    FROM documents
    GROUP BY 1
    """,
)
def mm_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-metadata aggregation over the multimodal layout — the
    cheap JVM-side pass that sizes/filters a corpus BEFORE any decode:
    per-media-type doc count, payload bytes, max declared width."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mm = with_media_columns(docs)
    return (
        mm.groupBy(F.col("meta.media_type").alias("media_type"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("blob")).alias("total_bytes"),
            F.max("meta.width").alias("max_width"),
        )
    )


PHASH_BITS = 32  # block-mean hash width (production: 64-256, see docstring)
PHASH_BANDS = 4  # LSH bands over the hash; 8 bits each
PHASH_HAM_MAX = 3  # report pairs at hamming <= 3 (pigeonhole-complete: 4 bands)

_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)

# chunk c's byte sum / count over an all-ASCII payload, DuckDB-side
_PH_CHUNK_SUM = (
    "COALESCE(list_sum(list_transform(range(1, cl + 1),"
    " i -> ascii(substr(text, {c} * cl + i, 1)))), 0)"
)


def phash_hash_cte() -> str:
    """DuckDB CTE fragment ``d AS (...), h AS (SELECT doc_id, phash)``
    replaying ``phash_frame``'s integer block-mean hash exactly —
    shared by the near-dup oracle below and the streaming store
    compaction-parity oracle (streaming/batch_windows.py) so the
    SQL-side hash cannot drift between them."""
    bit_terms = " + ".join(
        f"(CASE WHEN ({_PH_CHUNK_SUM.format(c=c)}) * n > "
        f"tot * greatest(0, least(cl, n - {c} * cl)) "
        f"THEN CAST({1 << c} AS BIGINT) ELSE 0 END)"
        for c in range(PHASH_BITS)
    )
    return f"""d AS (
        SELECT doc_id, text, length(text) AS n,
               CAST(ceil(length(text) / {PHASH_BITS}.0) AS BIGINT) AS cl,
               COALESCE(list_sum(list_transform(range(1, length(text) + 1),
                   i -> ascii(substr(text, i, 1)))), 0) AS tot
        FROM documents
    ),
    h AS (SELECT doc_id, {bit_terms} AS phash FROM d)"""


def _phash_oracle() -> str:
    return f"""
    WITH {phash_hash_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAM_MAX}
    """


def phash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, phash): block-mean hash over the payload BYTES via
    Arrow-batched mapInPandas — the decode-adjacent multimodal slow
    path (a real deployment swaps the byte chunks for pixel blocks
    after ``decode_media``; the hash arithmetic and everything
    downstream is unchanged). Bit c is set iff chunk c's byte sum *
    total_count exceeds total_sum * chunk_count — pure integer
    arithmetic, so the DuckDB oracle replays it exactly with no
    float-mean tie hazard."""
    import numpy as np

    mm = with_media_columns(docs).select("doc_id", "blob")

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf["blob"]:
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                n = len(arr)
                cl = -(-n // PHASH_BITS)  # ceil
                tot = int(arr.sum())
                h = 0
                for c in range(PHASH_BITS):
                    chunk = arr[c * cl : (c + 1) * cl]
                    if int(chunk.sum()) * n > tot * len(chunk):
                        h |= 1 << c
                out.append(h)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": out})

    return mm.mapInPandas(hashes, _PHASH_SCHEMA)


def phash_band_rows(h: DataFrame) -> DataFrame:
    """(doc_id, phash, band_id, band_val): the hash split into
    PHASH_BANDS 8-bit LSH bands — one row per (doc, band). Shared by
    the batch near-dup query and the streaming media-ingest sink so
    the banding cannot drift between them."""
    return h.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("phash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "phash", "bd.band_id", "bd.band_val")


@query("mm_phash_hamming_near_dup", oracle=_phash_oracle())
def mm_phash_hamming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection in HAMMING space: the
    media dedup pipeline (pHash/aHash family) expressed Spark-first.
    Stage 1 computes a {PHASH_BITS}-bit block-mean hash per payload
    (``phash_frame``); stage 2 generates candidates by LSH BANDING —
    the hash split into {PHASH_BANDS} bands of 8 bits, docs equi-joined
    per (band_id, band_value) bucket — and stage 3 verifies candidates
    with exact hamming distance (xor + bit_count, JVM-side). Banding
    is pigeonhole-COMPLETE for hamming <= {PHASH_HAM_MAX}: 3 differing
    bits cannot touch all 4 bands, so one band always matches and the
    banded plan returns exactly the brute-force pair set — which is
    what the oracle computes (O(n²) NOT-EXISTS-style self-join, fine
    at sf0.01; an independent formulation, not a replay of the
    banding).

    100-TB shape: candidates are an equi-join on band buckets, never
    an all-pairs product; bucket population — and thus pair space —
    is controlled by HASH WIDTH (the knob: 64-256-bit hashes give
    2^16+-entry band values; this demo uses {PHASH_BITS} bits so the
    sf corpus actually yields near-dup pairs), the same
    band-structure-vs-width trade as MinHash LSH (dedup.py). The
    verify stage touches candidates only. Hash extraction is the only
    Python (Arrow-batched, byte-level); banding, bucket join, and
    hamming verify are narrow JVM expressions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = phash_frame(docs)
    # the band frame feeds BOTH sides of the bucket self-join; without
    # a lineage cut each side re-runs the Python hash extraction over
    # every payload (observed: 2 MapInPandas nodes in the plan — at
    # 100 TB that is the decode pass twice; guide §4: the opaque
    # Python stage defeats Spark's subtree reuse)
    bands = phash_band_rows(h).localCheckpoint(eager=False)
    cand = (
        band_join(bands, bands, "band_id", ordered=True)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        .cast("int")
        .alias("hamming"),
    ).filter(F.col("hamming") <= PHASH_HAM_MAX)
