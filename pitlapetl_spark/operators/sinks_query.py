"""Oracle-checked sink round-trip: proves K1 keyed-upsert semantics
end-to-end through real parquet writes (SURVEY.md §2.2), expressed as
a registered query so the driver's DuckDB gate hashes the final table
state.

Scenario (mirrors re-running a reference DAG for a later snapshot,
racedag.py:68-73): load an initial aggregate built from the early
events only, then upsert the recomputed aggregates for a subset of
keys; the final state must show updated rows for upserted keys and
untouched rows elsewhere. Run twice, the result is identical —
idempotency is the property the reference leans on (SURVEY.md §2.12:
"freshness by re-running + upsert idempotency").
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sinks import upsert_partitioned
from ..sources import load_table

UPSERT_TYPES = ("click", "error")


@query(
    "sink_upsert_roundtrip",
    oracle=f"""
    WITH base AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(value) AS DOUBLE) AS max_value
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type, user_id
    ),
    upd AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(value) AS DOUBLE) AS max_value
        FROM events WHERE event_type IN {UPSERT_TYPES!r}
        GROUP BY event_type, user_id
    )
    SELECT user_id, n_events, max_value, event_type FROM upd
    UNION ALL
    SELECT user_id, n_events, max_value, event_type FROM base
    WHERE event_type NOT IN {UPSERT_TYPES!r}
    """,
)
def sink_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write base snapshot -> partition-swap upsert of two keys ->
    read back the final table state."""
    events = load_table(spark, sf_dir, "events")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )

    base = agg(events.filter(F.col("ts") < "2024-01-15"))
    updates = agg(events.filter(F.col("event_type").isin(*UPSERT_TYPES)))

    path = tempfile.mkdtemp(prefix="pitlap_upsert_") + "/table"
    try:
        upsert_partitioned(base, path, "event_type")
        upsert_partitioned(updates, path, "event_type")
        # run the upsert AGAIN — idempotency: final state must not change
        upsert_partitioned(updates, path, "event_type")
        final = spark.read.parquet(path)
        result = final.select("user_id", "n_events", "max_value", "event_type")
        # materialize executor-side before the temp dir is removed:
        # localCheckpoint truncates lineage into block storage, so the
        # returned frame never re-reads the deleted path — and no row
        # ever crosses to the driver (SCALE.md ground rule 2 holds with
        # zero exceptions in registered queries). On a shared cluster
        # you'd write to a durable staging table instead; the temp-dir
        # lifetime problem is an artifact of the self-contained query.
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


MERGE_DAYS = ("2024-01-10", "2024-01-25")


@query(
    "sink_merge_scoped_roundtrip",
    oracle=f"""
    WITH base AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY 1, 2
    ),
    upd AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(round(sum(value), 4) + 100.0, 4) AS sum_value
        FROM events
        WHERE strftime(ts, '%Y-%m-%d') IN {MERGE_DAYS!r}
          AND user_id % 3 = 0
        GROUP BY 1, 2
    )
    SELECT day, user_id, n_events, sum_value FROM upd
    UNION ALL
    SELECT b.day, b.user_id, b.n_events, b.sum_value FROM base b
    WHERE NOT EXISTS (
        SELECT 1 FROM upd u WHERE u.day = b.day AND u.user_id = b.user_id
    )
    """,
)
def sink_merge_scoped_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped row-level MERGE round-trip (SCALE.md "MERGE
    story" tier 1): build a day-partitioned (day, user_id) aggregate
    table, merge updates for a subset of users in one existing day and
    one brand-new day, replay the merge (idempotency), and return the
    final table state for the DuckDB hash gate. Only the touched day
    partitions are read or rewritten — the O(touched-bytes) MERGE shape
    a 100-TB table needs without Delta/Iceberg (byte-untouched proof
    for other partitions in tests/test_sinks.py)."""
    from ..sinks import merge_upsert_partition_scoped

    events = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(day, "user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    base = agg(events.filter(F.col("ts") < "2024-01-20"))
    updates = agg(
        events.filter(
            F.date_format("ts", "yyyy-MM-dd").isin(*MERGE_DAYS)
            & (F.col("user_id") % 3 == 0)
        )
    ).withColumn("sum_value", F.round(F.col("sum_value") + 100.0, 4))

    path = tempfile.mkdtemp(prefix="pitlap_merge_") + "/table"
    try:
        merge_upsert_partition_scoped(base, path, ["day", "user_id"], "day")
        merge_upsert_partition_scoped(updates, path, ["day", "user_id"], "day")
        # replay — partition-scoped MERGE must be idempotent
        merge_upsert_partition_scoped(updates, path, ["day", "user_id"], "day")
        # hive partition-type inference reads the day dirs back as
        # DateType; the table contract (and the oracle) is string
        final = spark.read.parquet(path).select(
            F.col("day").cast("string").alias("day"),
            "user_id",
            "n_events",
            "sum_value",
        )
        # executor-side materialization before the temp dir is removed
        # (same contract as sink_upsert_roundtrip above)
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


DELETE_TYPES = ("view", "click")
DELETE_USER_MOD = 7  # forget every user_id divisible by 7


@query(
    "sink_delete_roundtrip",
    oracle=f"""
    WITH base AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(value) AS DOUBLE) AS max_value
        FROM events
        GROUP BY event_type, user_id
    )
    SELECT user_id, n_events, max_value, event_type FROM base
    WHERE NOT (event_type IN {DELETE_TYPES!r}
               AND user_id % {DELETE_USER_MOD} = 0)
    """,
)
def sink_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten roundtrip: build the per-(type, user)
    aggregate table hive-partitioned on event_type, erase one user
    cohort from two partitions via the partition-scoped delete
    (``sinks.delete_keys_partition_scoped`` — O(touched partitions),
    untouched partitions never read), run the SAME delete again
    (idempotency), and hash the final table state. The keys frame
    carries the partition column per the sink's contract — the
    key->partition mapping every partition-scoped erasure pipeline
    requires so a delete never scans the whole table."""
    from ..sinks import delete_keys_partition_scoped, upsert_partitioned

    events = load_table(spark, sf_dir, "events")
    base = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("value").alias("max_value"),
    )
    path = tempfile.mkdtemp(prefix="pitlap_delete_") + "/table"
    try:
        upsert_partitioned(base, path, "event_type")
        keys = (
            base.filter(
                F.col("event_type").isin(*DELETE_TYPES)
                & (F.col("user_id") % DELETE_USER_MOD == 0)
            )
            .select("event_type", "user_id")
        )
        keys = keys.localCheckpoint(eager=True)  # pin before table rewrite
        delete_keys_partition_scoped(
            spark, path, keys, ["event_type", "user_id"], "event_type"
        )
        # idempotency: the same erasure request replayed is a no-op
        delete_keys_partition_scoped(
            spark, path, keys, ["event_type", "user_id"], "event_type"
        )
        final = spark.read.parquet(path)
        return final.select(
            "user_id", "n_events", "max_value", "event_type"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
