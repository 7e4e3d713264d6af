"""Property-based tests (SURVEY.md §5 item 4) — hypothesis drives the
row-level MERGE and the lap-time formatter against simple Python
models. Examples are kept small: each case builds real DataFrames."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pitlapetl_spark.functions import format_laptime
from pitlapetl_spark.sinks import merge_upsert

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from pitlapetl_spark.session import get_spark

        _spark = get_spark(app_name="pitlapetl_props")
    return _spark


rows = st.dictionaries(st.integers(0, 20), st.integers(-100, 100), max_size=12)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(existing=rows, updates=rows)
def test_merge_upsert_equals_dict_union(existing, updates):
    """MERGE model: result == {**existing, **updates} as a row set
    (updated keys replaced, new keys inserted, others kept)."""
    spark = _get_spark()
    schema = "k INT, v INT"
    edf = spark.createDataFrame(list(existing.items()) or [], schema=schema)
    udf_ = spark.createDataFrame(list(updates.items()) or [], schema=schema)
    merged = merge_upsert(edf, udf_, ["k"])
    got = {(r.k, r.v) for r in merged.collect()}
    want = set({**existing, **updates}.items())
    assert got == want


null_key_rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 8)), st.integers(-100, 100)),
    max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(existing=rows, existing_nulls=st.lists(st.integers(-100, 100), max_size=3),
       updates=null_key_rows)
def test_merge_upsert_write_null_keys_and_duplicates(existing, existing_nulls, updates):
    """The persisted MERGE with null keys, driven through
    ``merge_upsert_write``: on non-null keys the table becomes
    ``{**existing, **updates}``, every null-key row of either side is
    kept (a null key never matches), and a non-null key carried by
    two update rows raises and leaves the table as it was."""
    import os
    import tempfile

    from pitlapetl_spark.sinks import merge_upsert_write

    spark = _get_spark()
    schema = "k INT, v INT"
    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    table = list(existing.items()) + [(None, v) for v in existing_nulls]
    if table:  # an empty side leaves the table missing: the bootstrap path
        spark.createDataFrame(table, schema=schema).write.parquet(path)

    def snapshot():
        if not os.path.exists(path):
            return None
        return sorted((tuple(r) for r in spark.read.schema(schema).parquet(path).collect()), key=repr)

    before = snapshot()
    update_keys = [k for k, _ in updates if k is not None]
    udf_ = spark.createDataFrame(updates or [], schema=schema)
    if len(update_keys) != len(set(update_keys)):
        with pytest.raises(ValueError, match="duplicate key"):
            merge_upsert_write(udf_, path, ["k"])
        assert snapshot() == before
        return
    merge_upsert_write(udf_, path, ["k"])
    nulls = [(None, v) for v in existing_nulls] + [r for r in updates if r[0] is None]
    want = sorted(
        list({**existing, **{k: v for k, v in updates if k is not None}}.items()) + nulls,
        key=repr,
    )
    assert snapshot() == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    secs=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=0, max_value=7200, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_format_laptime_matches_python_model(secs):
    """X1 formatter: MM:SS.mmm from total seconds, NULL-safe, using
    total-seconds semantics (the reference's `.seconds` variant is
    wrong past 1h — SURVEY §7.3a; the model here is the correct one)."""
    spark = _get_spark()
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(secs)], "i INT, s DOUBLE")
    got = {
        r.i: r.fmt
        for r in df.select("i", format_laptime(F.col("s")).alias("fmt")).collect()
    }

    def model(s):
        if s is None:
            return None
        ms = round(s * 1000)
        total_s, ms = divmod(ms, 1000)
        m, sec = divmod(total_s, 60)
        return f"{int(m):02d}:{int(sec):02d}.{int(ms):03d}"

    for i, s in enumerate(secs):
        assert got[i] == model(s), (s, got[i], model(s))


def test_incremental_mv_merge_is_batching_invariant(spark, sf_dir):
    """Folding the events in ANY batch split must yield the same MV
    as one-shot aggregation (incremental.py merge_states contract):
    1 batch == 2 uneven batches == per-10-day batches."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.incremental import (
        _partial_state,
        merge_states,
    )
    from pitlapetl_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")

    def rows(df):
        return {
            r.event_type: (r.n_events, round(r.sum_value, 4))
            for r in df.select("event_type", "n_events", "sum_value").collect()
        }

    one_shot = rows(_partial_state(events))
    uneven = rows(
        merge_states(
            _partial_state(events.filter(F.col("ts") < "2024-01-04")),
            _partial_state(events.filter(F.col("ts") >= "2024-01-04")),
        )
    )
    acc = _partial_state(events.filter(F.col("ts") < "2024-01-11"))
    for lo, hi in (("2024-01-11", "2024-01-21"), ("2024-01-21", "2024-02-01")):
        acc = merge_states(
            acc,
            _partial_state(
                events.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            ),
        )
    assert one_shot == uneven == rows(acc)


@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 80)),  # (start, span)
        min_size=1,
        max_size=30,
    ),
    st.lists(st.integers(0, 600), min_size=1, max_size=40),  # points
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_binned_range_join_equals_nested_loop(spark, intervals, points):
    """The bin-replication construction (joins.py join_range_binned)
    must produce exactly the naive point-in-interval pairs for ANY
    interval/point sets — including spans larger than the bin width
    (multi-bin replication) and empty-match intervals."""
    from pyspark.sql import functions as F

    BIN = 64
    iv = spark.createDataFrame(
        [(i, lo, lo + span) for i, (lo, span) in enumerate(intervals)],
        "iid int, d0 long, d1 long",
    )
    pt = spark.createDataFrame(
        [(j, p) for j, p in enumerate(points)], "pid int, od long"
    )
    binned_iv = iv.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("d0") / BIN), F.floor(F.col("d1") / BIN))),
    )
    binned_pt = pt.withColumn("bin", F.floor(F.col("od") / BIN))
    got = {
        (r.iid, r.pid)
        for r in binned_iv.join(
            binned_pt,
            (binned_iv.bin == binned_pt.bin)
            & (binned_pt.od >= binned_iv.d0)
            & (binned_pt.od <= binned_iv.d1),
        ).collect()
    }
    want = {
        (i, j)
        for i, (lo, span) in enumerate(intervals)
        for j, p in enumerate(points)
        if lo <= p <= lo + span
    }
    assert got == want


@given(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1))
@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
def test_morton_interleave_roundtrip(spark, a, b):
    """sinks/layout.py morton_interleave must place a's bit i at
    position 2i and b's at 2i+1 — verified against a Python model."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.sinks.layout import morton_interleave

    got = (
        spark.range(1)
        .select(
            morton_interleave(F.lit(a).cast("long"), F.lit(b).cast("long")).alias("z")
        )
        .collect()[0]
        .z
    )
    want = 0
    for i in range(16):
        want |= ((a >> i) & 1) << (2 * i)
        want |= ((b >> i) & 1) << (2 * i + 1)
    assert got == want


def test_epoch_shuffle_is_a_permutation(spark, sf_dir):
    """The epoch shuffle must be a bijection: every doc appears exactly
    once, shard_pos is dense 1..n within each shard, and a different
    seed yields a different ordering while remaining a bijection."""
    from pyspark.sql import functions as F

    from pitlapetl_spark import registry
    from pitlapetl_spark.operators import training_prep as tp

    df = registry.QUERIES["shuffle_epoch_shards"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    assert df.count() == n
    assert df.select("doc_id").distinct().count() == n
    dense = df.groupBy("shard").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("shard_pos").alias("mx"),
        F.min("shard_pos").alias("mn"),
        F.countDistinct("shard_pos").alias("nd"),
    )
    for r in dense.collect():
        assert (r.mn, r.mx, r.nd) == (1, r.cnt, r.cnt), r

    # new seed => new permutation (overwhelmingly), still a bijection
    old = tp.SHUFFLE_SEED
    try:
        tp.SHUFFLE_SEED = "epoch-1"
        df2 = registry.QUERIES["shuffle_epoch_shards"](spark, sf_dir)
        assert df2.select("doc_id").distinct().count() == n
        joined = df.alias("a").join(df2.alias("b"), "doc_id")
        moved = joined.filter(
            (F.col("a.shard") != F.col("b.shard"))
            | (F.col("a.shard_pos") != F.col("b.shard_pos"))
        ).count()
        assert moved > n // 2, f"only {moved}/{n} docs moved between epochs"
    finally:
        tp.SHUFFLE_SEED = old


def test_interval_merge_islands_are_disjoint_and_cover(spark, sf_dir):
    """Merged intervals of one user must be pairwise disjoint (no
    overlap, no touching — touching would have merged) and must cover
    every source event's interval."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pitlapetl_spark import registry
    from pitlapetl_spark.operators.windows import IVAL_BASE_MIN

    islands = registry.QUERIES["interval_merge_activity"](spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("interval_start")
    gaps = islands.select(
        "user_id",
        (F.col("interval_start") > F.lag("interval_end").over(w)).alias("ok"),
    ).filter(F.col("ok").isNotNull())
    assert gaps.filter(~F.col("ok")).count() == 0

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = events.select(
        "user_id",
        F.col("ts").alias("s"),
        (
            F.col("ts")
            + F.make_interval(mins=F.lit(IVAL_BASE_MIN) + F.col("event_id") % 59)
        ).alias("e"),
    )
    uncovered = iv.join(
        islands,
        (iv.user_id == islands.user_id)
        & (iv.s >= islands.interval_start)
        & (iv.e <= islands.interval_end),
        "left_anti",
    )
    assert uncovered.count() == 0


@given(
    seed=st.integers(0, 2**31 - 1),
    sizes=st.lists(st.integers(5, 60), min_size=3, max_size=10),
)
@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
def test_winnowing_finds_exactly_planted_pairs_on_any_corpus(seed, sizes):
    """Winnowing recall/precision on ARBITRARY corpora, not just the
    driver tables: generate docs with doc-disjoint vocabularies (so
    no cross-doc fingerprints can exist), write them as a documents
    table, run the registered query. Every long-enough doc must pair
    with its planted prefix-shifted copy (the winnowing guarantee:
    shared substrings >= k+w-1 chars share a fingerprint), and NO
    cross-doc pair may ever appear (disjoint vocabularies => exact
    precision)."""
    import random
    import tempfile

    from pitlapetl_spark import registry

    registry.load_all()
    spark = _get_spark()
    rng = random.Random(seed)
    docs = []
    for i, n_words in enumerate(sizes):
        words = [f"w{i}x{rng.randrange(10**6)}" for _ in range(n_words)]
        text = " ".join(words)
        docs.append((i, text, "en", f"src{i}", len(text)))
    d = tempfile.mkdtemp(prefix="pitlap_prop_")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    pairs = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_winnowing"](spark, d).collect()
    }
    for a, b in pairs:
        assert b - a == 1_000_000, f"cross-doc pair {(a, b)} on disjoint vocab"
    long_enough = {i for i, t, *_ in docs if len(t) >= 150}
    missed = {i for i in long_enough if (i, i + 1_000_000) not in pairs}
    assert not missed, f"planted copies missed for docs {missed}"


def test_boilerplate_removal_is_idempotent_on_content(spark, sf_dir):
    """Removing boilerplate lines twice changes nothing: the kept
    lines' DF can only DROP below threshold after removal, never rise,
    so a second pass finds no new boilerplate. Modeled directly: no
    kept line may reach the DF threshold among kept lines."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.text_filters import (
        BOILER_MIN_DF,
        LINE_WORDS,
        _HEADER9,
    )
    from pitlapetl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    lines_arr = F.expr(
        f"transform(sequence(0, (size(words)-1) div {LINE_WORDS}), "
        f"i -> array_join(slice(words, i*{LINE_WORDS}+1, {LINE_WORDS}), ' '))"
    )
    lines = docs.select(
        "doc_id",
        F.split(
            F.concat(F.lit(_HEADER9 + " "), F.col("source"), F.lit(" "), F.col("text")),
            " ",
        ).alias("words"),
    ).select("doc_id", F.posexplode(lines_arr).alias("line_no", "line"))
    dfc = lines.groupBy("line").agg(F.countDistinct("doc_id").alias("line_df"))
    kept = lines.join(
        dfc.filter(F.col("line_df") >= BOILER_MIN_DF).select("line"),
        "line",
        "left_anti",
    )
    second_pass = (
        kept.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= BOILER_MIN_DF)
    )
    assert second_pass.count() == 0


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(4, 10),
    n_planted=st.integers(2, 4),
)
def test_repeated_spans_find_exactly_planted_sentences(seed, n_docs, n_planted):
    """On a corpus whose filler tokens are globally UNIQUE (zero
    organic k-gram repeats by construction) with one fixed sentence
    planted into a subset of docs, the operator must report exactly
    one span per planted doc, covering exactly the planted region —
    no misses, no spurious spans, correct offsets."""
    import random

    from pitlapetl_spark.operators.dedup import SPAN_K, repeated_spans_for

    rng = random.Random(seed)
    n_planted = min(n_planted, n_docs)
    sentence = [f"planted{j}" for j in range(SPAN_K + 4)]  # 12 tokens
    planted_at: dict[int, int] = {}
    rows = []
    docs_planted = rng.sample(range(n_docs), n_planted)
    for d in range(n_docs):
        filler = [f"w{d}x{i}" for i in range(rng.randint(SPAN_K, 30))]
        if d in docs_planted:
            p = rng.randint(0, len(filler))
            filler[p:p] = sentence
            planted_at[d] = p
        rows.append((d, " ".join(filler)))
    spark = _get_spark()
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in repeated_spans_for(docs).collect()
    }
    want = {(d, p, p + len(sentence)) for d, p in planted_at.items()}
    assert got == want


def test_ewma_matches_pandas_recursion(spark, sf_dir):
    """Independent third-engine check: the EWMA series must match
    pandas ewm(alpha, adjust=False) — the same recursion computed by
    a library neither engine shares code with — within the 1e-6
    per-step rounding the operator applies."""
    import pandas as pd

    from pitlapetl_spark.operators.windows import EWMA_ALPHA
    from pitlapetl_spark.registry import QUERIES

    out = (
        QUERIES["window_ewma_daily"](spark, sf_dir)
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    assert len(out) > 0
    for _, g in out.groupby("event_type"):
        want = (
            g["day_value"].ewm(alpha=EWMA_ALPHA, adjust=False).mean().to_numpy()
        )
        got = g["ewma"].to_numpy()
        assert (abs(got - want) < 1e-4).all(), (
            abs(got - want).max()
        )


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    table=st.sets(  # (partition 0-3, key 0-15) pairs — the SAME key may
        st.tuples(st.integers(0, 3), st.integers(0, 15)),  # live in several
        min_size=1,                                        # partitions
        max_size=24,
    ),
    delete_pairs=st.sets(
        st.tuples(st.integers(0, 3), st.integers(0, 15)), max_size=12
    ),
)
def test_partition_scoped_delete_equals_filter(table, delete_pairs):
    """On ANY table and ANY (partition, key) delete request — including
    a key living in several partitions with only one copy named — the
    partition-scoped delete's final state equals removing exactly the
    named pairs: compositional, no batch-dependent over-delete (the
    pre-fix anti-join on key_cols alone erased a key from EVERY
    touched partition, so this property was false in general)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from pitlapetl_spark.sinks import delete_keys_partition_scoped

    spark = _get_spark()
    path = _tempfile.mkdtemp(prefix="pitlap_delprop_") + "/t"
    try:
        rows_ = [(f"p{p_}", k, float(p_ * 100 + k)) for p_, k in table]
        spark.createDataFrame(
            rows_, "part string, k int, v double"
        ).write.partitionBy("part").parquet(path)
        if delete_pairs:
            kdf = spark.createDataFrame(
                [(f"p{p_}", k) for p_, k in delete_pairs], "part string, k int"
            )
            delete_keys_partition_scoped(spark, path, kdf, ["k"], "part")
        # explicit schema: a delete that empties EVERY partition leaves
        # a dir with no part files, where schema inference would throw
        got = sorted(
            (r.part, r.k, r.v)
            for r in spark.read.schema("part string, k int, v double")
            .parquet(path)
            .collect()
        )
        want = sorted(
            (f"p{p_}", k, float(p_ * 100 + k))
            for p_, k in table
            if (p_, k) not in delete_pairs
        )
        assert got == want
    finally:
        _shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    n_tokens=st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=8)
)
def test_chunker_tiles_any_document_length(n_tokens):
    """Sliding chunker model on arbitrary token counts: chunk starts
    at every stride multiple below n, each chunk min(CHUNK, n-start)
    long, full [0, n) coverage, fixed interior overlap."""
    spark = _get_spark()
    import math
    import tempfile

    from pyspark.sql import functions as F

    from pitlapetl_spark import registry
    from pitlapetl_spark.operators.text import CHUNK_STRIDE, CHUNK_TOKENS

    registry.load_all()

    tmp = tempfile.mkdtemp(prefix="pitlap_chunkprop_")
    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en", "prop", n)
        for i, n in enumerate(n_tokens)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = registry.QUERIES["text_chunk_sliding_tokens"](spark, tmp).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(n_tokens):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert len(chunks) == math.ceil(n / CHUNK_STRIDE)
        for k, c in enumerate(chunks):
            assert c.start_tok == k * CHUNK_STRIDE
            assert c.chunk_len == min(CHUNK_TOKENS, n - c.start_tok)
        assert chunks[-1].start_tok + chunks[-1].chunk_len == n


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=50, allow_nan=False),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=3,
        max_size=40,
    )
)
def test_linear_fit_matches_numpy_lstsq(pts):
    """Closed-form fit model: slope/intercept equal numpy's
    least-squares on the same points (within rounding), whenever x
    has variance."""
    spark = _get_spark()
    import tempfile

    import numpy as np

    from pitlapetl_spark import registry

    registry.load_all()
    xs = np.array([round(p[0], 2) for p in pts])
    ys = np.array([round(p[1], 2) for p in pts])
    if np.var(xs) < 1e-6:
        return  # degenerate: denominator ~ 0, fit undefined
    tmp = tempfile.mkdtemp(prefix="pitlap_fitprop_")
    rows = [
        (i, 1, 1, i, float(x), float(y), 0.0, 0.0, "N", "O", None)
        for i, (x, y) in enumerate(zip(xs, ys))
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    row = registry.QUERIES["ml_linear_fit_closed_form"](spark, tmp).collect()[0]
    slope_np, icept_np = np.polyfit(xs, ys, 1)
    assert row.slope == pytest.approx(slope_np, abs=1e-4)
    assert row.intercept == pytest.approx(icept_np, abs=1e-4)
    if np.var(ys) < 1e-12:
        # constant y: r^2 is 0/0 — the operator must return NULL,
        # not raise or fabricate a number (the case hypothesis found)
        assert row.r2 is None


@settings(deadline=None, max_examples=30)
@given(
    values=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    ),
    split=st.integers(min_value=0, max_value=40),
)
def test_decimal_mean_partials_merge_exactly(values, split):
    """The streaming-CUSUM merge lemma as a property: for ANY value
    list and ANY micro-batch split point, summing per-batch DECIMAL
    partials (sum, count) and dividing once equals computing the mean
    over the whole list — exactly, in Decimal arithmetic, because
    decimal addition is associative. This is the algebraic fact
    run_cusum_sink's bit-equality rests on (stats.decimal_mean8 and
    streaming/runtime.read_cusum_changepoints are the two sides)."""
    from decimal import Decimal

    split = min(split, len(values))
    dec = [Decimal(str(round(v, 8))) for v in values]
    whole_sum = sum(dec)
    a, b = dec[:split], dec[split:]
    merged_sum = sum(a, Decimal(0)) + sum(b, Decimal(0))
    assert merged_sum == whole_sum  # EXACT, not approximate
    assert (len(a) + len(b)) == len(dec)
    # and the final mean expression sees identical inputs either way
    assert round(float(merged_sum) / len(dec), 8) == round(
        float(whole_sum) / len(dec), 8
    )


@settings(deadline=None, max_examples=50)
@given(
    cuts=st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=9, unique=True,
    ),
    v=st.floats(min_value=-150, max_value=150,
                allow_nan=False, allow_infinity=False),
)
def test_psi_bin_formulations_agree(cuts, v):
    """The literal-fold binning (1 + #cuts strictly below v) must
    equal the oracle's min-matching-cut formulation (smallest bin with
    v <= cut, else n_cuts+1) for ANY cut fences and value — including
    exact ties at a cut. This is the identity the Spark/DuckDB PSI
    pair (and the streaming monitor's frozen fences) rests on."""
    fences = sorted(round(c, 8) for c in cuts)
    fold = 1 + sum(1 for c in fences if v > c)
    matching = [i + 1 for i, c in enumerate(fences) if v <= c]
    min_cut = matching[0] if matching else len(fences) + 1
    assert fold == min_cut


# ------------------------- spatial grid-cover derivation (pure math)
# The _CELL_DEG=2.0 sizing claims: ANY two points within RADIUS_KM,
# with latitudes in the derived [-45, 45) range, land in the same or
# 8-neighboring cells. This tests the DERIVATION itself over random
# coordinates (not just the fixed key-derived ones the registered
# query uses) — pure python haversine, no Spark session.


@given(
    lat1=st.floats(min_value=-45.0, max_value=44.99),
    lon1=st.floats(min_value=-20.0, max_value=19.99),
    lat2=st.floats(min_value=-45.0, max_value=44.99),
    lon2=st.floats(min_value=-20.0, max_value=19.99),
)
@settings(max_examples=500, deadline=None)
def test_cell_ring_covers_every_within_radius_pair(lat1, lon1, lat2, lon2):
    import math

    from pitlapetl_spark.operators.spatial import (
        _CELL_DEG,
        EARTH_R_KM,
        RADIUS_KM,
    )

    r = math.radians
    a = (
        math.sin(r(lat2 - lat1) / 2) ** 2
        + math.cos(r(lat1)) * math.cos(r(lat2)) * math.sin(r(lon2 - lon1) / 2) ** 2
    )
    dist = 2 * EARTH_R_KM * math.asin(math.sqrt(min(1.0, a)))
    if dist <= RADIUS_KM:
        cx1, cy1 = math.floor(lat1 / _CELL_DEG), math.floor(lon1 / _CELL_DEG)
        cx2, cy2 = math.floor(lat2 / _CELL_DEG), math.floor(lon2 / _CELL_DEG)
        assert abs(cx1 - cx2) <= 1 and abs(cy1 - cy2) <= 1, (
            f"cover miss at dist={dist:.3f}km: ({lat1},{lon1}) vs ({lat2},{lon2})"
        )


@settings(max_examples=300, deadline=None)
@given(
    syms=st.lists(st.sampled_from("abcd"), min_size=2, max_size=30),
    pair=st.tuples(st.sampled_from("abcd"), st.sampled_from("abcd")),
)
def test_bpe_nonoverlap_lemma_and_simultaneous_apply(syms, pair):
    """The two claims the declarative BPE trainer rests on
    (operators/bpe_train.py), checked over random sequences:

    1. Non-overlap lemma: for a merge pair (a, b) with a != b, no two
       match positions are adjacent — a match at p+1 would need
       s[p+1] = a AND (from the match at p) s[p+1] = b.
    2. Therefore the relational apply (mark ALL matches, drop every
       p+1, concat at p — what the windows do) equals the textbook
       greedy left-to-right scan."""
    a, b = pair
    if a == b:
        return  # excluded by the trainer's winner selection
    matches = [
        p for p in range(len(syms) - 1) if syms[p] == a and syms[p + 1] == b
    ]
    for p, q in zip(matches, matches[1:]):
        assert q > p + 1  # lemma: never adjacent
    # simultaneous relational apply
    drop = {p + 1 for p in matches}
    simultaneous = [
        (a + b) if p in set(matches) else s
        for p, s in enumerate(syms)
        if p not in drop
    ]
    # greedy left-to-right scan
    greedy, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            greedy.append(a + b)
            i += 2
        else:
            greedy.append(syms[i])
            i += 1
    assert simultaneous == greedy


@settings(max_examples=200, deadline=None)
@given(
    y=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=12)
)
def test_isotonic_minimax_equals_pava(y):
    """The minimax closed form ml_isotonic_calibration computes
    relationally (iso_i = max_{j<=i} min_{k>=i} mean(y_j..y_k),
    Barlow et al. 1972) must equal the sequential
    pool-adjacent-violators algorithm on every input."""
    n = len(y)
    # minimax form (what the operator's joins compute)
    minimax = []
    for i in range(n):
        best = -float("inf")
        for j in range(i + 1):
            mn = min(
                sum(y[j : k + 1]) / (k - j + 1) for k in range(i, n)
            )
            best = max(best, mn)
        minimax.append(best)
    # classic PAVA with blocks
    blocks = []  # (total, count)
    for v in y:
        blocks.append((float(v), 1))
        while len(blocks) > 1 and (
            blocks[-2][0] / blocks[-2][1] >= blocks[-1][0] / blocks[-1][1]
        ):
            t2, c2 = blocks.pop()
            t1, c1 = blocks.pop()
            blocks.append((t1 + t2, c1 + c2))
    pava = []
    for t, c in blocks:
        pava.extend([t / c] * c)
    assert all(abs(a - b) < 1e-9 for a, b in zip(minimax, pava)), (
        y, minimax, pava,
    )
    # and the fit is monotone non-decreasing
    assert all(a <= b + 1e-12 for a, b in zip(minimax, minimax[1:]))


@settings(max_examples=200, deadline=None)
@given(
    ps=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=20,
    ),
    alpha=st.floats(min_value=0.01, max_value=0.2),
)
def test_bh_stepup_window_form_matches_textbook(ps, alpha):
    """stats_fdr_bh computes the BH step-up as `rank <= max(rank
    where p <= rank*alpha/m)` via window functions; check that
    equals the textbook sequential definition (find largest i with
    p_(i) <= i*alpha/m, reject all hypotheses with rank <= i)."""
    m = len(ps)
    ranked = sorted(ps)
    # window form: one max over "ranks whose own threshold passes",
    # then a prefix cut — what the Spark/DuckDB plans compute
    cutoff = max(
        (i for i, p in enumerate(ranked, start=1) if p <= i * alpha / m),
        default=0,
    )
    window_form = [rank <= cutoff for rank in range(1, m + 1)]
    # textbook recursive definition: H_(i) is rejected iff SOME
    # i' >= i has p_(i') <= i'*alpha/m (step-up from the largest p)
    textbook = [
        any(
            ranked[ip - 1] <= ip * alpha / m for ip in range(i, m + 1)
        )
        for i in range(1, m + 1)
    ]
    assert window_form == textbook
    # rejected set is a prefix of the p-sorted order
    if cutoff:
        assert all(window_form[:cutoff]) and not any(window_form[cutoff:])


@settings(max_examples=200, deadline=None)
@given(
    k11=st.integers(min_value=1, max_value=50),
    k12=st.integers(min_value=0, max_value=50),
    k21=st.integers(min_value=0, max_value=50),
    k22=st.integers(min_value=0, max_value=200),
)
def test_llr_entropy_form_matches_direct_g2(k11, k12, k21, k22):
    """text_collocation_llr computes Dunning's G2 in the entropy form
    (sum k ln k - row terms - col terms + N ln N); check it equals the
    direct form 2 * sum k_ij * ln(k_ij * N / (r_i * c_j)) on every
    table."""
    import math

    cx, cxp = k11 + k12, k21 + k22
    cy, cyp = k11 + k21, k12 + k22
    n = k11 + k12 + k21 + k22

    def xlx(v):
        return v * math.log(v) if v > 0 else 0.0

    entropy_form = 2 * (
        xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
        - xlx(cx) - xlx(cxp) - xlx(cy) - xlx(cyp) + xlx(n)
    )
    direct = 0.0
    for k, r, c in ((k11, cx, cy), (k12, cx, cyp), (k21, cxp, cy),
                    (k22, cxp, cyp)):
        if k > 0:
            direct += k * math.log(k * n / (r * c))
    direct *= 2
    assert abs(entropy_form - direct) < 1e-8, (entropy_form, direct)
    # G2 is non-negative (it is a likelihood-ratio statistic)
    assert entropy_form > -1e-9


@settings(max_examples=300, deadline=None)
@given(n=st.integers(min_value=1, max_value=40))
def test_position_based_weights_sum_to_one(n):
    """attribution_position_based's weight expression (1.0 / 0.5+0.5 /
    0.4 first + 0.4 last + 0.2 split over middles) must distribute
    exactly one unit of credit per converting user for every touch
    count."""
    total = 0.0
    for rn in range(1, n + 1):
        if n == 1:
            total += 1.0
        elif n == 2:
            total += 0.5
        elif rn == 1 or rn == n:
            total += 0.4
        else:
            total += 0.2 / (n - 2)
    assert abs(total - 1.0) < 1e-9, (n, total)


@settings(max_examples=300, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-1000, max_value=1000),
                  min_size=1, max_size=31)
)
def test_runs_test_doubled_median_device(vals):
    """stats_runs_test compares 2*cents against med2 = the sum of the
    two middle order statistics (the same rank twice when the count
    is odd); check med2 == 2 * the continuous median on every list,
    entirely in integers."""
    s = sorted(vals)
    nd = len(s)
    lo, hi = (nd + 1) // 2, (nd + 2) // 2
    med2 = s[lo - 1] + s[hi - 1]
    # continuous median, scaled by 2 to stay in integers
    if nd % 2 == 1:
        expected = 2 * s[nd // 2]
    else:
        expected = s[nd // 2 - 1] + s[nd // 2]
    assert med2 == expected


@settings(max_examples=200, deadline=None)
@given(
    xs=st.lists(st.integers(min_value=0, max_value=50), min_size=3,
                max_size=40)
)
def test_jarque_bera_raw_moment_identities(xs):
    """stats_jarque_bera derives central moments from raw power sums
    (m2 = (s2 - s1^2/n)/n etc.); check the formulas against direct
    mean-centered computation, and that JB is non-negative."""
    import math

    n = len(xs)
    s1 = sum(xs)
    s2 = sum(x * x for x in xs)
    s3 = sum(x**3 for x in xs)
    s4 = sum(x**4 for x in xs)
    mu = s1 / n
    m2 = (s2 - s1 * s1 / n) / n
    m3 = (s3 - 3 * mu * s2 + 2 * n * mu**3) / n
    m4 = (s4 - 4 * mu * s3 + 6 * mu**2 * s2 - 3 * n * mu**4) / n
    d2 = sum((x - mu) ** 2 for x in xs) / n
    d3 = sum((x - mu) ** 3 for x in xs) / n
    d4 = sum((x - mu) ** 4 for x in xs) / n
    scale = max(1.0, abs(d2), abs(d3), abs(d4))
    assert abs(m2 - d2) / scale < 1e-9
    assert abs(m3 - d3) / scale < 1e-8
    assert abs(m4 - d4) / scale < 1e-8
    if m2 > 1e-9:
        skew = m3 / m2**1.5
        exk = m4 / (m2 * m2) - 3
        jb = n / 6.0 * (skew**2 + exk**2 / 4)
        assert jb >= 0


@settings(max_examples=200, deadline=None)
@given(
    groups=st.lists(
        st.lists(st.integers(min_value=0, max_value=50), min_size=2,
                 max_size=15),
        min_size=2,
        max_size=4,
    )
)
def test_levene_cross_multiplied_device(groups):
    """stats_levene_variance restates |x - mean_g| as |n_g*x - S_g| /
    n_g so the numerators stay exact integers; check the W computed
    from the (D1, D2) integer sums equals the classic mean-centered
    Levene W on every input."""
    zs = []
    per_group = []
    for g in groups:
        ng, sg = len(g), sum(g)
        d1 = sum(abs(ng * x - sg) for x in g)
        d2 = sum((ng * x - sg) ** 2 for x in g)
        # the operator's exact-scalar forms
        sz = d1 / ng
        szz = d2 / ng / ng
        per_group.append((ng, sz, szz))
        zs.append([abs(x - sg / ng) for x in g])
    k = len(groups)
    nt = sum(ng for ng, _, _ in per_group)
    sz_all = sum(sz for _, sz, _ in per_group)
    szz_all = sum(szz for _, _, szz in per_group)
    sb_term = sum(sz * sz / ng for ng, sz, _ in per_group)
    within = szz_all - sb_term
    between = sb_term - sz_all * sz_all / nt
    # classic: one-way ANOVA F on the z_ij deviations
    zbar_g = [sum(z) / len(z) for z in zs]
    zbar = sum(sum(z) for z in zs) / nt
    between_c = sum(len(z) * (zg - zbar) ** 2 for z, zg in zip(zs, zbar_g))
    within_c = sum(
        sum((zi - zg) ** 2 for zi in z) for z, zg in zip(zs, zbar_g)
    )
    scale = max(1.0, within_c, abs(between_c))
    assert abs(between - between_c) / scale < 1e-8
    assert abs(within - within_c) / scale < 1e-8


@settings(max_examples=300, deadline=None)
@given(
    cx=st.integers(min_value=0, max_value=255),
    cy=st.integers(min_value=0, max_value=255),
)
def test_morton_interleave_is_a_bijection(cx, cy):
    """layout_zorder_locality's generated interleave SQL must encode a
    true Morton curve: evaluating the same term structure in Python
    and de-interleaving recovers (cx, cy) exactly, and the key stays
    within 16 bits."""
    z = 0
    for i in range(8):
        z |= ((cx >> i) & 1) << (2 * i)
        z |= ((cy >> i) & 1) << (2 * i + 1)
    assert 0 <= z < 1 << 16
    dx = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    dy = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    assert (dx, dy) == (cx, cy)


def test_morton_sql_matches_python_reference(spark):
    """The SQL text layout_zorder_locality generates must compute the
    same z as the Python reference, for every 8-bit (cx, cy) pair —
    evaluated through Spark's parser, the engine that runs it."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.breadth7e import _interleave_sql

    df = (
        spark.range(0, 256)
        .select(
            (F.col("id") % 16 * 17).alias("cx"),
            ((F.col("id") * 7) % 256).alias("cy"),
        )
        .select("cx", "cy", F.expr(_interleave_sql("cx", "cy")).alias("z"))
    )
    for cx, cy, z in df.collect():
        ref = 0
        for i in range(8):
            ref |= ((cx >> i) & 1) << (2 * i)
            ref |= ((cy >> i) & 1) << (2 * i + 1)
        assert z == ref, (cx, cy, z, ref)


# --------------------------- URL canonicalizer (round 10, webgate)

_schemes = st.sampled_from(["http", "https", "ftp"])
_hosts = st.from_regex(
    r"[a-z][a-z0-9]{0,6}(\.[a-z][a-z0-9]{0,6}){1,2}", fullmatch=True
).filter(lambda h: not h.startswith("www."))
# (a host whose FIRST label is literally 'www' is excluded: the
# canonicalizer strips one leading 'www.' by design, so
# 'www.x.y' and 'WWW.www.x.y' are the same canonical URL but
# 'www.x.y' without the extra prefix is a DIFFERENT site — the
# invariance property only holds for hosts that don't collide with
# the prefix rule, which is the documented real-world trade of
# www-stripping)
_paths = st.lists(
    st.from_regex(r"[A-Za-z0-9._~-]{1,8}", fullmatch=True), max_size=3
).map(lambda segs: "/" + "/".join(segs) if segs else "")
_params = st.lists(
    st.tuples(
        st.from_regex(r"[a-z][a-z0-9]{0,5}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True),
    ),
    max_size=4,
    unique_by=lambda kv: kv[0],
)


def _mangle(scheme, host, port, path, params, *, upper, www, track, frag, dupslash):
    """A raw spelling of the URL under the given variation knobs."""
    s = scheme.upper() if upper else scheme
    h = ("WWW." if www else "") + (host.upper() if upper else host)
    p = path.replace("/", "//") if dupslash else path
    kv = list(params) + ([("utm_source", "x"), ("gclid", "1")] if track else [])
    q = "&".join(f"{k}={v}" for k, v in kv)
    return (
        f"{s}://{h}{port}{p}"
        + (f"?{q}" if q else "")
        + ("#frag" if frag else "")
    )


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    scheme=_schemes,
    host=_hosts,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=_paths,
    params=_params,
    knobs=st.tuples(*[st.booleans()] * 5),
)
def test_url_canonicalize_invariance_and_idempotence(
    scheme, host, port, path, params, knobs
):
    """Two properties the rule list implies but no single example
    pins: (a) INVARIANCE — every raw spelling of the same URL (case,
    www, tracking params, param order, duplicate slashes, fragment)
    canonicalizes to the same string, for ANY generated URL, not just
    the fixture's derivation classes; (b) IDEMPOTENCE — canonical
    output fed back through the canonicalizer is a fixed point (a
    canonicalizer that isn't idempotent silently builds two key
    spaces the moment a pipeline re-canonicalizes stored URLs)."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.webgate import canonicalize_url

    spark = _get_spark()
    upper, www, track, frag, dupslash = knobs
    raw_a = _mangle(
        scheme, host, port, path, params,
        upper=upper, www=www, track=track, frag=frag, dupslash=dupslash,
    )
    raw_b = _mangle(
        scheme, host, port, path, list(reversed(params)),
        upper=not upper, www=False, track=not track, frag=False,
        dupslash=False,
    )
    df = spark.createDataFrame([(raw_a, raw_b)], "a string, b string").select(
        canonicalize_url(F.col("a")).alias("ca"),
        canonicalize_url(F.col("b")).alias("cb"),
    )
    row = df.collect()[0]
    assert row.ca == row.cb, (raw_a, raw_b, row.ca, row.cb)
    # idempotence: re-canonicalize the canonical form
    again = (
        spark.createDataFrame([(row.ca,)], "c string")
        .select(canonicalize_url(F.col("c")).alias("cc"))
        .collect()[0]
        .cc
    )
    assert again == row.ca, (row.ca, again)


# ------- stream-vs-batch ingest equivalence (round 11 sinks)
# The parity QUERIES pin the equivalence on the fixture corpus; these
# properties pin it on arbitrary corpora and arbitrary id-ordered
# batch splits — including the edge shapes the fixture never produces
# (empty batches, all-blocked batches, a whole corpus in one batch,
# every doc a duplicate).

_url_tail = st.lists(
    st.tuples(
        st.integers(0, 30),          # canonical-group selector
        st.booleans(),               # blocked site?
        st.booleans(),               # mangled raw spelling?
    ),
    min_size=1,
    max_size=14,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(tail=_url_tail, n_batches=st.integers(1, 4))
def test_url_ingest_stream_equals_batch_gate_property(tail, n_batches):
    """For ANY corpus of raw URLs and ANY id-ordered batch split, the
    URL ingest sink's kept set equals the batch gate's kept set on
    the same rows (first-seen == lowest-doc_id among unblocked
    members of each canonical group)."""
    import math
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.webgate import url_gate_verdicts
    from pitlapetl_spark.streaming.runtime import _url_ingest_batch

    spark = _get_spark()
    rows = []
    for i, (grp, blocked, mangled) in enumerate(tail):
        site = "src3" if blocked else f"src{grp % 3}"
        raw = (
            f"HTTPS://WWW.{site}.EXAMPLE.COM/g//{grp}/?utm_source=x&k={grp}"
            if mangled
            else f"https://{site}.example.com/g/{grp}?k={grp}"
        )
        rows.append((i, raw))
    df = spark.createDataFrame(rows, "doc_id long, url_raw string")
    want = sorted(
        r.doc_id for r in url_gate_verdicts(df).filter("kept").collect()
    )

    tmp = tempfile.mkdtemp(prefix="pitlap_urlprop_")
    try:
        ingest = _url_ingest_batch(f"{tmp}/store", f"{tmp}/corpus", 10**6)
        width = math.ceil(len(rows) / n_batches)
        for b in range(n_batches):
            ingest(
                df.filter(
                    (F.col("doc_id") >= b * width)
                    & (F.col("doc_id") < (b + 1) * width)
                ),
                b,
            )
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/corpus").collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want, (rows, n_batches, got, want)


_span_corpus = st.lists(
    st.lists(st.integers(0, 3), min_size=0, max_size=24),  # token ids
    min_size=1,
    max_size=8,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(corpus=_span_corpus, n_batches=st.integers(1, 4))
def test_span_ingest_stream_equals_batch_apply_property(corpus, n_batches):
    """For ANY corpus of token sequences (tiny 4-word vocabulary, so
    >= SPAN_K-gram repeats are common within AND across docs) and ANY
    id-ordered batch split, the span ingest sink's cleaned corpus
    equals the batch Lee-et-al apply on the same frame — including
    docs shorter than SPAN_K (pass through) and docs cut to empty."""
    import math
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.dedup import repeated_spans_apply_for
    from pitlapetl_spark.streaming.runtime import _span_ingest_batch

    spark = _get_spark()
    rows = [
        (i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(corpus)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r.doc_id, r.n_tokens_before, r.n_tokens_after, r.n_spans_cut,
         r.cleaned_text)
        for r in repeated_spans_apply_for(df).collect()
    }

    tmp = tempfile.mkdtemp(prefix="pitlap_spanprop_")
    try:
        ingest = _span_ingest_batch(f"{tmp}/store", f"{tmp}/corpus", 10**6)
        width = math.ceil(len(rows) / n_batches)
        for b in range(n_batches):
            ingest(
                df.filter(
                    (F.col("doc_id") >= b * width)
                    & (F.col("doc_id") < (b + 1) * width)
                ),
                b,
            )
        got = {
            (r.doc_id, r.n_tokens_before, r.n_tokens_after, r.n_spans_cut,
             r.cleaned_text)
            for r in spark.read.parquet(f"{tmp}/corpus")
            .drop("batch")
            .collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want, (rows, n_batches)
