"""Inventory-completing operators: remaining join types, ranking
windows, regex scalars, ordered set-collection, subquery forms, and
the mergeable rollup hierarchy (coarse aggregates computed FROM finer
aggregates — the continuous-aggregate / hypertable-rollup pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table, register_views

DAY_S = 86400


@query(
    "join_right_outer",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join — customers with no orders survive with NULL
    order columns (the join-type inventory's remaining member;
    SURVEY §2.5 gap list)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "right_outer"
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_name")


@query(
    "window_ntile_distribution",
    oracle="""
    SELECT event_id, event_type,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank /
    cume_dist) per event_type — total order (value, event_id) makes
    ties deterministic across engines and executors."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "scalar_regex_suite",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '^[a-z]+') AS type_head,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
           regexp_matches(p_brand, '[13579]$') AS brand_odd,
           CAST(levenshtein(p_brand, 'brand#00') AS INT) AS brand_dist
    FROM part
    """,
)
def scalar_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar breadth (X-family extension): extract, global
    replace, match test, edit distance — all JVM intrinsics."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", "^[a-z]+", 0).alias("type_head"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.col("p_brand").rlike("[13579]$").alias("brand_odd"),
        F.levenshtein("p_brand", F.lit("brand#00")).cast("int").alias("brand_dist"),
    )


@query(
    "agg_collect_set_ordered",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), ',') AS segments,
           CAST(count(DISTINCT c_mktsegment) AS INT) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_collect_set_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with the deterministic-order convention
    (sort_array before any serialization — set iteration order never
    leaks; string-joined so the value is engine-portable)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias("segments"),
        F.count_distinct("c_mktsegment").cast("int").alias("n_segments"),
    )


_EXISTS_SQL = """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P')
"""


@query("subquery_exists_semi", oracle=_EXISTS_SQL)
def subquery_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface —
    Catalyst rewrites them to left-semi / left-anti joins (same
    physical plan as the DataFrame forms in operators/joins.py)."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_EXISTS_SQL)


@query(
    "window_forward_fill",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS raw_value,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM events
    """,
)
def window_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF): null-out error readings, then carry the
    last valid observation forward per user — ``last(ignorenulls)``
    over an unbounded-preceding frame, the time-series gap-filling
    primitive (same machinery the as-of join builds on). One shuffle
    on user_id; frame state is O(1)."""
    events = load_table(spark, sf_dir, "events")
    raw = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
    )


@query(
    "sample_hash_systematic",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
    """,
)
def sample_hash_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 systematic sample by content hash — the
    scale-correct sampling primitive: reproducible across engines,
    runs, and partitionings (unlike RNG-based ``TABLESAMPLE``), and
    consistent per key so joins of two sampled tables still align.
    Narrow filter, pushes nothing but costs one md5 per row."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) == "0"
    ).select("event_id", "user_id", "value")


@query(
    "sample_stratified_topn",
    oracle="""
    SELECT event_type, event_id, value
    FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        FROM events
    )
    WHERE rn <= 50
    """,
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 50 rows per
    event_type, chosen by hash order (uniform within stratum,
    reproducible everywhere). The per-stratum row_number is the same
    top-k machinery as window_topk_per_group — one shuffle on the
    stratum key."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        events.select("event_type", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )


@query(
    "rollup_hierarchy_day_from_hour",
    oracle=f"""
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {DAY_S}) * {DAY_S} AS BIGINT)) AS TIMESTAMP) AS day_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_hierarchy_day_from_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-rollup pattern: the day-level aggregate is computed
    FROM the hour-level aggregate, not from raw events — counts sum,
    sums sum (mergeable aggregates). At 100 TB the hour rollup is the
    materialized continuous aggregate; day/week/month roll up from it
    at 1/3600th the input size. Oracle = direct day aggregation from
    raw events, proving the re-aggregation is lossless."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value"
        )
    )
    return (
        hourly.groupBy(
            F.window("hour_start", "1 day").alias("w"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("day_start"), "event_type", "n_events", "sum_value"
        )
    )


MIX_WEIGHTS = {"en": 1.0, "de": 0.5, "es": 0.25, "fr": 0.125, "zh": 0.0625}
_MIX_DENOM = 16_777_216  # 2^24: first 6 md5 hex chars as a uniform u24


@query(
    "sample_weighted_mix",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                   * 1.0 / {_MIX_DENOM} AS u,
               CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items())}
                    ELSE 0.03125 END AS w
        FROM documents
    )
    WHERE u < w
    """,
)
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data domain mixing: keep each document with its
    source's mixing weight (here per-lang; Pile/Dolma-style domain
    reweighting before pretraining). The keep decision is a pure
    function of the doc key — a uniform u24 from the content hash
    compared against the domain weight — so the mix is reproducible
    across engines, runs, and repartitioning, and upsampling a domain
    later keeps every previously-kept doc (weights only move the
    threshold). Narrow filter, no shuffle, no RNG state."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in MIX_WEIGHTS.items()],
        F.lit(0.03125),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        / _MIX_DENOM
    )
    return docs.select("doc_id", "lang", u.alias("u"), w.alias("w")).filter(
        F.col("u") < F.col("w")
    ).select("doc_id", "lang")


N_HIST_BINS = 10
HIST_LO, HIST_HI = 0.0, 1000.0


@query(
    "agg_histogram_equi_width",
    oracle=f"""
    SELECT event_type,
           CAST(least(floor((value - {HIST_LO}) / {(HIST_HI - HIST_LO) / N_HIST_BINS}),
                      {N_HIST_BINS - 1}) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo_value,
           round(max(value), 4) AS hi_value
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_histogram_equi_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per event_type (the engine primitive
    behind NDV/selectivity profiling and value-distribution
    dashboards): one map-side-partial aggregate on the (type, bin)
    grain, bin = clamped width_bucket. No sort, no window."""
    events = load_table(spark, sf_dir, "events")
    width = (HIST_HI - HIST_LO) / N_HIST_BINS
    bin_ = F.least(
        F.floor((F.col("value") - HIST_LO) / width), F.lit(N_HIST_BINS - 1)
    ).cast("int")
    return events.groupBy("event_type", bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo_value"),
        F.round(F.max("value"), 4).alias("hi_value"),
    )


# Rare-event subset so the grid has real gaps, chosen so EVERY sf is
# non-vacuous (events.value tops out ~330/490/560 at sf0.001/0.01/0.1;
# the old 950.0 matched zero rows everywhere and the oracle pass was
# 0-vs-0 — VERDICT r3 "What's wrong #1"). At 280.0: sf0.001 → 5 src
# rows / 19-day spine, sf0.01 → 36 rows / 29-day spine ×5 series,
# sf0.1 → 366 rows — sparse enough that zero-fill and LOCF both fire.
RESAMPLE_VALUE_MIN = 280.0


@query(
    "resample_daily_grid",
    oracle=f"""
    WITH src AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               value
        FROM events WHERE value > {RESAMPLE_VALUE_MIN}
    ),
    daily AS (
        SELECT event_type, day,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM src GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM src),
    spine AS (
        SELECT t.event_type, g.d AS day
        FROM (SELECT DISTINCT event_type FROM src) t
        CROSS JOIN (SELECT unnest(generate_series(mn, mx)) AS d FROM bounds) g
    )
    SELECT s.event_type, s.day,
           coalesce(d.n_events, 0) AS n_events,
           coalesce(d.sum_value, 0.0) AS sum_value,
           last_value(d.sum_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_sum_value
    FROM spine s LEFT JOIN daily d
      ON d.event_type = s.event_type AND d.day = s.day
    """,
)
def resample_daily_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample an irregular event stream onto a complete daily grid:
    dense date spine (sequence-explode over the observed day range,
    one tiny bounds aggregate broadcast back) x series key, left join
    the daily aggregates, zero-fill counts and carry the last observed
    daily total forward (LOCF) across true gaps. The spine is
    O(series x days) — metadata-sized next to the facts — and the fill
    window partitions by series, so nothing ever funnels into one
    task. The standard time-series densification every
    dashboard/feature pipeline needs before diffing or windowing."""
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > RESAMPLE_VALUE_MIN)
        .select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).alias("day"),
            "value",
        )
    )
    # the day-grain aggregate is cut once and the spine's bounds and
    # series list derive from IT (identical values: every src row
    # lands in a daily group) — uncut, bounds and the distinct series
    # each re-scanned and re-aggregated the fact (observed: 3 events
    # scans; guide §1.2). Day x series rows only.
    daily = src.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).localCheckpoint(eager=False)
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
            F.last("sum_value", ignorenulls=True).over(w).alias("locf_sum_value"),
        )
    )


# ------------------------------------------------- equi-depth histogram

N_DEPTH_BINS = 10
_DEPTH_CUTS = [i / N_DEPTH_BINS for i in range(1, N_DEPTH_BINS)]  # 0.1..0.9


@query(
    "agg_histogram_equi_depth",
    oracle=f"""
    WITH cuts AS (
        SELECT [{", ".join(f"quantile_cont(value, {p})" for p in _DEPTH_CUTS)}]
               AS qs
        FROM events
    )
    SELECT CAST(list_sum(list_transform(c.qs,
                q -> CASE WHEN e.value >= q THEN 1 ELSE 0 END)) AS INT)
               AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(e.value), 4) AS lo_value,
           round(max(e.value), 4) AS hi_value
    FROM events e CROSS JOIN cuts c
    GROUP BY bin
    ORDER BY bin
    """,
)
def agg_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram of event values — the
    QuantileDiscretizer semantic: bins hold ~equal row counts, bin id =
    number of decile cuts at or below the value. The cuts are ONE
    exact-percentile aggregate (a single row) broadcast back over the
    fact; bucketing is then a pure expression, so the fact scans once
    and shuffles once on the bin grain. Spark ``percentile`` and DuckDB
    ``quantile_cont`` interpolate identically (the agg_percentiles
    contract), and bin membership uses >= on those shared doubles —
    deterministic on both engines. At 100 TB swap the exact percentile
    for approx_percentile; the plan is unchanged."""
    events = load_table(spark, sf_dir, "events")
    cuts = F.broadcast(
        events.agg(
            F.expr(
                f"percentile(value, array({', '.join(str(p) for p in _DEPTH_CUTS)}))"
            ).alias("qs")
        )
    )
    bin_ = F.expr(
        "aggregate(qs, 0, (acc, q) -> acc + IF(value >= q, 1, 0))"
    ).cast("int")
    return (
        events.crossJoin(cuts)
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo_value"),
            F.round(F.max("value"), 4).alias("hi_value"),
        )
        .orderBy("bin")
    )


# -------------------------------------- weighted reservoir per group

# Efraimidis-Spirakis A-Res weighted reservoir sampling, made
# deterministic: each row's uniform draw u comes from a seeded content
# hash (15 md5 hex digits -> u in (0, 1]), and the reservoir keeps the
# top-RESERVOIR_K rows per group by priority u^(1/w) — equivalently by
# ln(u)/w, which is what both engines compute (round(9)-ed so libm ulp
# differences cannot reorder the reservoir; event_id breaks exact
# ties). Higher-weight rows are proportionally likelier to be kept —
# the weighted-sampling primitive a training-mix builder needs.
RESERVOIR_K = 20
RESERVOIR_SEED = "res-1"
_U_DENOM = 16**15  # 15 hex digits -> 2^60


@query(
    "sample_reservoir_per_group",
    oracle=f"""
    WITH pr AS (
        SELECT event_type, event_id, value,
               round(ln((CAST(('0x' || substr(md5('{RESERVOIR_SEED}:'
                       || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                     / {_U_DENOM}.0) / value, 9) AS priority
        FROM events
        WHERE value > 0
    )
    SELECT event_type, event_id, value, priority,
           CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY priority DESC, event_id) AS rn
        FROM pr
    )
    WHERE rn <= {RESERVOIR_K}
    """,
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (A-Res) of RESERVOIR_K events per
    event_type: priority = ln(u)/w with u a seeded content-hash
    uniform and w = value, keep the top-K priorities per group. The
    deterministic twin of `TABLESAMPLE`-with-weights: reproducible
    across engines/runs/partitionings, and value-weighted (a purchase
    worth 100x is ~100x likelier sampled).

    100-TB shape: priority is a narrow expression; the reservoir is
    the same one-shuffle per-group top-k as window_topk_per_group
    (map-side partial top-k under AQE). A streaming variant keeps the
    K best priorities per group as bounded state — same math, same
    determinism, no RNG state to checkpoint."""
    events = load_table(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(RESERVOIR_SEED + ":"), F.col("event_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(_U_DENOM))
    # A-Res requires w > 0: a zero/negative-weight row has zero
    # selection probability by definition (and ln(u)/0 is a
    # divide-by-zero under ANSI mode — hit by a real 0.0 at sf0.1),
    # so exclude it up front on BOTH engines
    pr = events.filter(F.col("value") > 0).select(
        "event_type",
        "event_id",
        "value",
        F.round(F.log(u) / F.col("value"), 9).alias("priority"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("priority"), "event_id")
    return (
        pr.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= RESERVOIR_K)
    )


# ------------------------------------------ exact bitmap distinct

BITMAP_WORD_BITS = 62  # DuckDB range-checks 1<<63; 62 is safe on both engines


@query(
    "agg_bitmap_distinct_users",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY 1
    UNION ALL
    SELECT CAST(NULL AS TIMESTAMP) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events
    """,
)
def agg_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per day plus the all-days total — computed
    as ROARING-STYLE BITMAPS, not COUNT(DISTINCT): each user maps to
    (word = id div 62, bit = id mod 62), a first hash aggregate ORs
    the bit masks per (day, word), and the distinct count is the
    popcount sum over words. The total row is the payoff: daily word
    bitmaps OR-MERGE into the all-days bitmap — exact distinct counts
    become algebraic/mergeable like HLL sketches but with zero error,
    so rollups, incremental MVs, and re-aggregation to coarser grains
    never re-touch raw rows (the bitmap index trick every warehouse
    uses, restated as two Spark hash aggregates). The oracle is the
    INDEPENDENT formulation — plain COUNT(DISTINCT) — so a green hash
    proves the bitmap algebra, not a replay of it.

    100-TB shape: shuffle payload after the first aggregate is one
    long per (day, word) — for dense id spaces that is 62 users per
    row, a ~60x reduction over distinct-shuffling raw (day, user)
    pairs, and every later grain change is an OR + popcount over
    word-rows. Sparse/huge id spaces want real roaring containers
    (run-length + array pages); the word-bitmap layout here is the
    dense page of that structure. 62-bit words because DuckDB
    range-checks 1<<63 on BIGINT."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    words = e.select(
        "day",
        (F.col("user_id") / BITMAP_WORD_BITS).cast("long").alias("word"),
        F.expr(f"shiftleft(1L, int(user_id % {BITMAP_WORD_BITS}))").alias("mask"),
    )
    daily_words = words.groupBy("day", "word").agg(F.bit_or("mask").alias("bits"))
    daily = daily_words.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_distinct")
    )
    total = (
        daily_words.groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))  # the mergeability step
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("n_distinct"))
        .select(F.lit(None).cast("timestamp").alias("day"), "n_distinct")
    )
    return daily.unionByName(total)


# ---------------------------------------- Neyman-optimal stratified sampling
# sample_stratified_topn above allocates UNIFORMLY per stratum;
# sample_reservoir_per_group weights WITHIN a group. The survey-
# sampling optimum for a fixed total budget allocates n_h
# PROPORTIONAL TO N_h * S_h (stratum size x stratum stddev — Neyman
# 1934): high-variance strata get more of the budget, near-constant
# strata almost none, minimizing the variance of the stratified mean
# estimator. The training-data use is quota sampling for eval sets:
# spend labeling budget where the metric varies.
#
# Scale + determinism design: stratum moments come from ONE
# map-side-combinable aggregate using EXACT decimal sums (sum x,
# sum x^2 — order-independent, so both engines derive bit-identical
# doubles for S_h; a plain double stddev would differ in the last ulp
# by accumulation order and could flip a floor() at an allocation
# boundary). The 3-row allocation table is a bounded broadcast; the
# per-stratum draw is the md5-ranked systematic sample (the
# sample_hash_systematic device) — reproducible across engines, runs
# and partitionings. One sort-window per stratum is the cost; at
# 100 TB swap rank-by-hash for a per-stratum hash-threshold filter
# (n_h/N_h quantile of the hash space — no sort), the documented
# constant-factor upgrade.

SAMPLE_N = 300


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sx,
               -- DECIMAL(19,4) forces hugeint storage so the product
               -- doesn't overflow int64; Spark computes the same exact
               -- value as (18,4)x(18,4) -> (37,8), both cast (38,8)
               sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                   * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sxx
        FROM lineitem GROUP BY 1
    ),
    w AS (
        SELECT l_returnflag, n,
               CAST(round(n * sqrt((CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                          / (n - 1)), 6) AS DECIMAL(28,6)) AS wh
        FROM m
    ),
    alloc AS (
        SELECT l_returnflag,
               CAST(floor({SAMPLE_N} * CAST(wh AS DOUBLE)
                    / CAST((SELECT sum(wh) FROM w) AS DOUBLE)) AS BIGINT) AS nh
        FROM w
    ),
    ranked AS (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '-'
                                || CAST(l_linenumber AS VARCHAR)),
                            l_orderkey, l_linenumber, l_extendedprice) AS rn
        FROM lineitem
    )
    SELECT r.l_returnflag AS returnflag, r.l_orderkey AS orderkey,
           r.l_linenumber AS linenumber, r.l_extendedprice AS price
    FROM ranked r JOIN alloc a ON r.l_returnflag = a.l_returnflag
    WHERE r.rn <= a.nh
    ORDER BY returnflag, orderkey, linenumber
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample of SAMPLE_N lineitem rows with the Neyman
    allocation (block comment above): n_h ∝ N_h * S_h over
    l_returnflag strata, drawn by md5-systematic rank."""
    li = load_table(spark, sf_dir, "lineitem")
    pdec = F.col("l_extendedprice").cast("decimal(18,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pdec).alias("sx"),
        F.sum((pdec * pdec).cast("decimal(38,8)")).alias("sxx"),
    )
    s2 = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    # lazy cut of the strata-count-sized weight frame: it feeds the
    # total scalar AND the allocation — uncut, each re-ran the full
    # moments aggregate (observed: 3 lineitem scans; guide §1.2)
    w = m.select(
        "l_returnflag",
        F.round(F.col("n") * F.sqrt(s2), 6).cast("decimal(28,6)").alias("wh"),
    ).localCheckpoint(eager=False)
    tot = w.agg(F.sum("wh").alias("tw"))  # one-row scalar broadcast
    alloc = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "l_returnflag",
            F.floor(
                F.lit(SAMPLE_N) * F.col("wh").cast("double") / F.col("tw").cast("double")
            )
            .cast("long")
            .alias("nh"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("l_returnflag").orderBy(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        )
    )
    ranked = li.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).withColumn("rn", rn)
    return (
        ranked.join(F.broadcast(alloc), "l_returnflag")
        .filter(F.col("rn") <= F.col("nh"))
        .select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_extendedprice").alias("price"),
        )
        .orderBy("returnflag", "orderkey", "linenumber")
    )
