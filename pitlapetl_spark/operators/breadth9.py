"""Round-9 breadth operators.

Same cross-engine determinism devices as breadth8: md5-derived
uniform hashes (Spark ``conv(substr(md5(..)))`` == DuckDB
``'0x' || substr(md5(..))``), integer/decimal arithmetic up to one
final correctly-rounded double expression, and rounding precision
chosen with >=1e3x ulp headroom at the column's magnitude
(tools/round_headroom_audit.py — the r8 DP-sum lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

# -------------------- theta/KMV sketch: distinct count + distinct sum
#
# The mergeable-sketch family's third member (after the HLL register
# pair): a K-MINIMUM-VALUES (theta) sketch, the device behind
# DataSketches' theta/tuple sketches. Every key hashes to a uniform
# 60-bit integer u; the sketch keeps the K smallest DISTINCT u values
# with each key's payload riding along. theta = u_(K) (the K-th
# smallest, as a fraction of 2^60); every distinct key lands below
# theta independently with probability theta, so the K-1 retained
# entries strictly below it give the classic unbiased estimators
#
#   distinct_count ~= (K-1) / theta
#   distinct_sum   ~= sum(value over retained) / theta     (tuple sketch)
#
# — the second being what HLL cannot do: estimate an ADDITIVE metric
# over the distinct-key set (revenue over distinct customers, bytes
# over distinct documents) without a full distinct shuffle. With
# fewer than K distinct keys the sketch holds everything and both
# answers are exact (the documented small-set mode). Relative error
# ~ 1/sqrt(K-2) ~= 8.9% at K=128.
#
# 100-TB shape: the row scan hashes keys map-side; the only wide op
# is distinct-then-TakeOrdered on (u, value) — partial map-side
# dedup plus per-partition top-K, so shuffle volume is O(partitions
# x K), exactly how a per-partition KMV merge behaves. The exact
# count/sum verifier columns exist only to price the estimate at test
# scale; production drops them (same contract as agg_hll_distinct).
# Sketches merge by unioning retained sets and re-taking the K
# smallest — the same mergeability contract agg_hll_set_operations
# demonstrates for HLL registers.
#
# Determinism: u is an exact bigint both engines derive from the same
# md5 prefix; theta_num stays bigint; each estimate is TWO correctly-
# rounded IEEE ops (cast, multiply-by-exact-2^60, divide) from exact
# integers/decimals — no libm, no accumulation-order dependence.
# Rounding at 2 dp leaves ~2e6x ulp headroom at the ~1e7 sum
# magnitude (audit above).

THETA_K = 128
_POW2_60 = 1 << 60


def _theta_oracle() -> str:
    return f"""
    WITH rows_ AS (
        SELECT o.o_custkey AS custkey,
               CAST(c.c_acctbal AS DECIMAL(18,2)) AS val
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    hashed AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(CAST(custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) AS u,
               val
        FROM rows_
    ),
    sketch AS (SELECT u, val FROM hashed ORDER BY u LIMIT {THETA_K}),
    th AS (
        SELECT CAST(count(*) AS BIGINT) AS n_retained,
               max(u) AS theta_num
        FROM sketch
    ),
    below AS (
        SELECT CAST(count(*) AS BIGINT) AS n_below,
               coalesce(sum(CASE WHEN s.u < t.theta_num THEN s.val END),
                        CAST(0 AS DECIMAL(18,2))) AS sum_below,
               sum(s.val) AS sum_all,
               max(t.n_retained) AS n_retained,
               max(t.theta_num) AS theta_num
        FROM sketch s CROSS JOIN th t
        WHERE s.u < t.theta_num OR {THETA_K} > (SELECT n_retained FROM th)
    ),
    exact AS (
        SELECT CAST(count(*) AS BIGINT) AS n_exact,
               sum(val) AS sum_exact
        FROM hashed
    )
    SELECT CAST({THETA_K} AS INT) AS k,
           b.n_retained,
           b.theta_num,
           e.n_exact,
           round(CAST(e.sum_exact AS DOUBLE), 2) AS sum_exact,
           CASE WHEN b.n_retained < {THETA_K}
                THEN CAST(b.n_retained AS DOUBLE)
                ELSE round(CAST(b.n_below AS DOUBLE) * {float(_POW2_60)!r}
                           / CAST(b.theta_num AS DOUBLE), 2)
           END AS est_distinct,
           CASE WHEN b.n_retained < {THETA_K}
                THEN round(CAST(b.sum_all AS DOUBLE), 2)
                ELSE round(CAST(b.sum_below AS DOUBLE) * {float(_POW2_60)!r}
                           / CAST(b.theta_num AS DOUBLE), 2)
           END AS est_sum
    FROM below b CROSS JOIN exact e
    """


def _theta_sketch_frame(hashed: DataFrame) -> DataFrame:
    """K-smallest retention over the hashed key frame. orderBy+limit
    so Spark plans it as TakeOrderedAndProject (per-partition top-K
    heaps + a K-row driver merge), never a global Sort of the hashed
    keys — the property tests/test_plan_hygiene pins on THIS builder
    (the registered query wraps it in a lazy lineage cut, which hides
    the subplan from the final explain)."""
    return hashed.orderBy("u").limit(THETA_K)


@query("agg_theta_sketch_distinct_sum", oracle=_theta_oracle())
def agg_theta_sketch_distinct_sum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV/theta sketch over customers-with-orders: estimated distinct
    customer count AND estimated account-balance sum over that
    distinct set, exact verifiers alongside (block comment above)."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("val")
    )
    rows = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_custkey").alias("custkey"), "val"
    )
    hashed = rows.select(
        F.conv(F.substring(F.md5(F.col("custkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("u"),
        "val",
    ).distinct()
    # lazy lineage cuts: hashed feeds the sketch build AND the exact
    # verifier; the K-row sketch feeds the theta fold AND the below
    # filter — without the cuts each consumer re-ran the
    # orders⋈customer join + md5 + distinct (guide §1.2; the plan
    # scanned orders and customer 3x each before)
    hashed = hashed.localCheckpoint(eager=False)
    sketch = _theta_sketch_frame(hashed).localCheckpoint(eager=False)
    th = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_retained"),
        F.max("u").alias("theta_num"),
    )
    # one-row scalar broadcast join (the repo's standing pattern for
    # data-dependent scalars), then conditional fold over <=K rows
    below = (
        sketch.crossJoin(F.broadcast(th))
        .filter(
            (F.col("u") < F.col("theta_num"))
            | (F.lit(THETA_K) > F.col("n_retained"))
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_below"),
            F.coalesce(
                F.sum(F.when(F.col("u") < F.col("theta_num"), F.col("val"))),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("sum_below"),
            F.sum("val").alias("sum_all"),
            F.max("n_retained").alias("n_retained"),
            F.max("theta_num").alias("theta_num"),
        )
    )
    exact = hashed.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum("val").alias("sum_exact"),
    )
    est_d = (
        F.col("n_below").cast("double")
        * F.lit(float(_POW2_60))
        / F.col("theta_num").cast("double")
    )
    est_s = (
        F.col("sum_below").cast("double")
        * F.lit(float(_POW2_60))
        / F.col("theta_num").cast("double")
    )
    return below.crossJoin(F.broadcast(exact)).select(
        F.lit(THETA_K).cast("int").alias("k"),
        "n_retained",
        "theta_num",
        "n_exact",
        F.round(F.col("sum_exact").cast("double"), 2).alias("sum_exact"),
        F.when(
            F.col("n_retained") < THETA_K, F.col("n_retained").cast("double")
        )
        .otherwise(F.round(est_d, 2))
        .alias("est_distinct"),
        F.when(
            F.col("n_retained") < THETA_K,
            F.round(F.col("sum_all").cast("double"), 2),
        )
        .otherwise(F.round(est_s, 2))
        .alias("est_sum"),
    )


# -------------------- sliding-window distinct via mergeable HLL
#
# The warehouse shape agg_hll_distinct (breadth8) exists to enable:
# a 7-day SLIDING distinct-user count maintained from per-day
# register frames, merged per window by register max — never
# re-scanning events. The exact twin (window_rolling_distinct /
# DAU-MAU, breadth7) carries every (user, day) pair through each
# window; at 100 TB the sketch twin folds events once to O(days x m)
# register rows (m = 256), then the window merge is an explode of
# that tiny frame across its <= 7 target days + one max — the same
# exact-vs-sketch escape-hatch pairing as the rolling-median twins.
#
# Determinism: breadth8's hll_rho_frame and hll_estimate_frame
# (md5-derived bucket/rho, integer harmonic sums to one double
# division, linear-counting small-range correction — exercised at
# sf0.01 where windows hold ~150 users < 2.5m, while sf0.1 windows at
# ~1.4k users exercise the raw-estimate branch; the ln is audited for
# rounding headroom at these magnitudes).

HLL_WINDOW_DAYS = 7

from .breadth8 import (  # noqa: E402
    hll_estimate_cte_sql,
    hll_estimate_frame,
    hll_rho_cte_sql,
    hll_rho_frame,
)


def _hll_sliding_oracle() -> str:
    return f"""
    WITH ev AS (
        SELECT date_trunc('day', ts) AS d1, user_id FROM events
    ),
    days AS (SELECT DISTINCT d1 FROM ev),
    r AS ({hll_rho_cte_sql("user_id", "ev", extra_col="d1")}),
    dregs AS (SELECT d1, bucket, max(rho) AS m_j FROM r GROUP BY 1, 2),
    wregs AS (
        SELECT a.d1 AS day, g.bucket, max(g.m_j) AS m_j
        FROM days a JOIN dregs g
          ON g.d1 BETWEEN a.d1 - INTERVAL {HLL_WINDOW_DAYS - 1} DAY AND a.d1
        GROUP BY 1, 2
    ),
    {hll_estimate_cte_sql("wregs", grain="day")},
    exact AS (
        SELECT a.d1 AS day, CAST(count(DISTINCT e2.user_id) AS BIGINT)
               AS n_exact
        FROM days a JOIN ev e2
          ON e2.d1 BETWEEN a.d1 - INTERVAL {HLL_WINDOW_DAYS - 1} DAY AND a.d1
        GROUP BY 1
    )
    SELECT CAST(est_.day AS TIMESTAMP) AS day,
           est_.v_empty,
           round(est_.hll, 6) AS hll_estimate,
           exact.n_exact,
           round(est_.hll / exact.n_exact - 1, 6) AS rel_error
    FROM est_ JOIN exact ON est_.day = exact.day
    """


@query("window_hll_sliding_distinct", oracle=_hll_sliding_oracle())
def window_hll_sliding_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-7-day distinct users per day, estimated by merging
    per-day HLL register frames (register max across the window) —
    exact windowed distinct alongside as verifier (block comment
    above). Register rows and the estimate chain come from breadth8's
    shared device (hll_rho_frame / hll_estimate_frame), so the two
    HLL queries cannot drift."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("d1"), "user_id"
    )
    # ONE events scan: every downstream consumer (day spine, register
    # frame, exact verifier) is a function of the DISTINCT (day, user)
    # set — register maxes are multiplicity-invariant (max(rho) over
    # duplicate rows is unchanged) and the verifier is a countDistinct
    # — so dedup once, cut lineage once, and derive all three from the
    # cut (guide §1.2; the plan scanned events 4x before: spine,
    # registers, verifier, plus the spine's second semi-join build)
    upairs = ev.distinct().localCheckpoint(eager=False)
    days = upairs.select("d1").distinct()
    r = hll_rho_frame(upairs, "user_id", passthrough=("d1",))
    dregs = r.groupBy("d1", "bucket").agg(F.max("rho").alias("m_j"))
    # each day-register contributes to <= 7 target-day windows: explode
    # the TINY register frame (days x m rows), then keep only target
    # days that exist in the data (broadcast semi-join on the spine) —
    # the oracle's BETWEEN join, restated as equi-joinable rows
    offs = F.array(*[F.lit(o) for o in range(HLL_WINDOW_DAYS)])
    contrib = dregs.select(
        F.explode(offs).alias("off"), "d1", "bucket", "m_j"
    ).select(
        F.expr("d1 + make_interval(0, 0, 0, off, 0, 0, 0)").alias("day"),
        "bucket",
        "m_j",
    )
    wregs = (
        contrib.join(
            F.broadcast(days.select(F.col("d1").alias("day"))), "day", "left_semi"
        )
        .groupBy("day", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    est = hll_estimate_frame(wregs, grain=("day",))
    exact = (
        upairs.select(F.explode(offs).alias("off"), "d1", "user_id")
        .select(
            F.expr("d1 + make_interval(0, 0, 0, off, 0, 0, 0)").alias("day"),
            "user_id",
        )
        .join(
            F.broadcast(days.select(F.col("d1").alias("day"))), "day", "left_semi"
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return est.join(exact, "day").select(
        "day",
        "v_empty",
        F.round("hll", 6).alias("hll_estimate"),
        "n_exact",
        F.round(F.col("hll") / F.col("n_exact") - 1, 6).alias("rel_error"),
    )


# -------------------- partition-level Merkle diff (table reconcile)
#
# table_diff_reconcile (reconcile.py) answers "WHICH ROWS differ"
# with one co-partitioned full-outer join — correct, but at 100 TB
# you do not row-join two whole snapshots to learn that 3 of 10 000
# partitions drifted. The warehouse device is a PARTITION FINGERPRINT
# table (Merkle-style): per partition, the row count and an
# order-insensitive content fingerprint (bit_xor of per-row hashes —
# commutative/associative, so it folds map-side in any order and
# never shuffles rows, only the O(partitions) fingerprint frame).
# Two snapshots then reconcile by comparing fingerprint TABLES;
# only fingerprint-unequal partitions proceed to the row-level diff.
# xor's self-inverse property also means an even number of IDENTICAL
# duplicate rows cancels — the count column is what catches that
# (documented; a production fingerprint adds a second independent
# fold, e.g. sum mod 2^64, for belt and braces).
#
# The replica here is the base perturbed DETERMINISTICALLY inside the
# query (the reconcile.py fixture device): ~1% of rows get a price
# edit and ~0.1% are deleted, chosen by md5-uniforms of the key, so
# changed/missing partitions and clean partitions are all populated
# by construction and the oracle replays the exact same replica.

MERKLE_EDIT_MOD = 97  # ~1% of order keys get a price edit
MERKLE_DROP_MOD = 997  # ~0.1% of order keys deleted from the replica


def _merkle_base_sql() -> str:
    return """
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               strftime(o_orderdate, '%Y-%m') AS pmonth,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#m'),
                                    1, 15)) AS BIGINT) AS u
        FROM orders
    """


def _merkle_fp_sql(rel: str, prefix: str) -> str:
    return f"""
        SELECT pmonth,
               CAST(count(*) AS BIGINT) AS n_{prefix},
               bit_xor(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                   || '|' || CAST(cents AS VARCHAR)), 1, 15)) AS BIGINT))
                   AS fp_{prefix}
        FROM {rel} GROUP BY pmonth
    """


@query(
    "dq_partition_merkle_diff",
    oracle=f"""
    WITH base AS ({_merkle_base_sql()}),
    replica AS (
        SELECT o_orderkey,
               CASE WHEN u % {MERKLE_EDIT_MOD} = 0 THEN cents + 100
                    ELSE cents END AS cents,
               pmonth
        FROM base WHERE u % {MERKLE_DROP_MOD} <> 3
    ),
    fb AS ({_merkle_fp_sql("base", "base")}),
    fr AS ({_merkle_fp_sql("replica", "replica")})
    SELECT coalesce(fb.pmonth, fr.pmonth) AS pmonth,
           coalesce(fb.n_base, 0) AS n_base,
           coalesce(fr.n_replica, 0) AS n_replica,
           coalesce(fb.fp_base, 0) AS fp_base,
           coalesce(fr.fp_replica, 0) AS fp_replica,
           (coalesce(fb.n_base, 0) = coalesce(fr.n_replica, 0)
            AND coalesce(fb.fp_base, 0) = coalesce(fr.fp_replica, 0))
               AS partition_clean
    FROM fb FULL OUTER JOIN fr ON fb.pmonth = fr.pmonth
    """,
)
def dq_partition_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition (order month) count + xor-of-row-hash
    fingerprints for a base snapshot and a deterministically
    perturbed replica; partitions flagged clean/dirty without any
    row-level join (block comment above).

    FULL OUTER on the fingerprint frames (review catch): the worst
    drift — a partition present on only one side — must surface as a
    dirty row with the missing side at count 0, not vanish from an
    inner join. An absent partition's fingerprint coalesces to 0 (the
    xor identity, exactly what an empty fold yields), so clean =
    equal counts AND equal fingerprints stays one rule."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM").alias("pmonth"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("#m"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    # one lazy lineage cut: base feeds BOTH fingerprint folds (and the
    # replica derivation) — without it each side re-scans orders and
    # re-runs the md5+conv uniform per row (guide §1.2)
    base = base.localCheckpoint(eager=False)
    replica = base.filter(F.col("u") % MERKLE_DROP_MOD != 3).select(
        "o_orderkey",
        F.when(
            F.col("u") % MERKLE_EDIT_MOD == 0, F.col("cents") + 100
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
        "pmonth",
    )

    def fp(df: DataFrame, prefix: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("cents").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        return df.groupBy("pmonth").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{prefix}"),
            F.bit_xor(h).alias(f"fp_{prefix}"),
        )

    fb, fr = fp(base, "base"), fp(replica, "replica")
    nb = F.coalesce(F.col("n_base"), F.lit(0).cast("long"))
    nr = F.coalesce(F.col("n_replica"), F.lit(0).cast("long"))
    pb = F.coalesce(F.col("fp_base"), F.lit(0).cast("long"))
    pr = F.coalesce(F.col("fp_replica"), F.lit(0).cast("long"))
    return fb.join(fr, "pmonth", "full_outer").select(
        "pmonth",
        nb.alias("n_base"),
        nr.alias("n_replica"),
        pb.alias("fp_base"),
        pr.alias("fp_replica"),
        ((nb == nr) & (pb == pr)).alias("partition_clean"),
    )


# -------------------- watermark lateness audit (stream design probe)
#
# Every watermark in streaming/runtime.py carries a delay someone had
# to CHOOSE; this is the query that chooses it. Replaying the events
# table in arrival order (event_id — the monotone ingest sequence the
# fixture encodes; a production audit uses the ingest/log offset), it
# measures each event's lateness against the high-water mark of
# event time seen STRICTLY BEFORE it — exactly the quantity a
# Structured Streaming watermark subtracts its delay from — and
# prices candidate delays (1 h / 6 h / 24 h) by how many events each
# would have dropped. Per-key grain (event_type here, the source-
# partition stand-in): watermarks advance per-source-partition before
# the min-across-partitions fold, and the per-key frame is what a
# 1000-partition ingest would audit shard-locally — one window over
# each key's own arrival order, no global sort anywhere.
#
# Determinism: lateness is exact integer micros (unix_micros both
# sides), counts are counts, and the one rate column divides two
# bigints with round(6).

LATENESS_DELAYS_H = (1, 6, 24)
_US_PER_H = 3_600_000_000


def _lateness_oracle() -> str:
    drop_cols = ",\n           ".join(
        f"CAST(count(CASE WHEN late_us > {h * _US_PER_H} THEN 1 END)"
        f" AS BIGINT) AS dropped_{h}h"
        for h in LATENESS_DELAYS_H
    )
    return f"""
    WITH arr AS (
        SELECT event_type, event_id, epoch_us(ts) AS ts_us,
               max(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS hwm_us
        FROM events
    ),
    lat AS (
        SELECT event_type,
               greatest(0, coalesce(hwm_us - ts_us, 0)) AS late_us
        FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN late_us > 0 THEN 1 END) AS BIGINT)
               AS n_late,
           CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s,
           {drop_cols},
           round(CAST(count(CASE WHEN late_us > {24 * _US_PER_H} THEN 1 END)
                      AS DOUBLE) / count(*), 6) AS drop_rate_24h
    FROM lat GROUP BY event_type
    """


@query("stream_watermark_lateness_audit", oracle=_lateness_oracle())
def stream_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-orderness audit per event_type: lateness of each event
    vs the prior high-water mark in arrival order, and the events a
    1 h / 6 h / 24 h watermark delay would each have dropped (block
    comment above)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = ev.select(
        "event_type",
        F.greatest(
            F.lit(0),
            F.coalesce(F.max("ts_us").over(w) - F.col("ts_us"), F.lit(0)),
        ).alias("late_us"),
    )
    drop_cols = [
        F.count(F.when(F.col("late_us") > h * _US_PER_H, 1))
        .cast("long")
        .alias(f"dropped_{h}h")
        for h in LATENESS_DELAYS_H
    ]
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(F.when(F.col("late_us") > 0, 1)).cast("long").alias("n_late"),
        # integer division on BOTH engines: a double divide + cast
        # truncates on Spark but rounds on DuckDB — a hash flip
        # waiting for a max-lateness with fractional seconds >= 0.5
        F.expr("max(late_us) div 1000000").cast("long").alias("max_late_s"),
        *drop_cols,
        F.round(
            F.count(F.when(F.col("late_us") > 24 * _US_PER_H, 1)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("drop_rate_24h"),
    )
