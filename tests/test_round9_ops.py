"""Independent-implementation checks for the round-9 operators:
each query's device is replayed in plain Python (hashlib/pandas)
or against its sibling variant, so a defect in the shared Spark/SQL
expression of a device cannot hide behind oracle parity (both
engines computing the same wrong thing)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pitlapetl_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()
Q = registry.QUERIES


def _md5_prefix_int(s: str, n: int = 15) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)


# ------------------------------------------------------ theta/KMV


def test_theta_sketch_matches_python_kmv_replay(spark):
    """Replay the KMV estimator from the raw parquet in pure Python
    (hashlib md5, sorted minima) and require the Spark pipeline's
    retained count, theta, and both estimates to match exactly."""
    from pitlapetl_spark.operators.breadth9 import THETA_K, _POW2_60

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    rows = orders.merge(
        cust, left_on="o_custkey", right_on="c_custkey"
    )[["o_custkey", "c_acctbal"]]
    # distinct (u, val) pairs, exactly as the query's hashed CTE
    seen = {}
    for k, bal in zip(rows["o_custkey"], rows["c_acctbal"]):
        u = _md5_prefix_int(str(int(k)))
        seen[(u, round(float(bal), 2))] = True
    pairs = sorted(seen)
    sketch = pairs[:THETA_K]
    n_retained = len(sketch)
    got = Q["agg_theta_sketch_distinct_sum"](spark, SF_SMOKE).collect()[0]
    assert got.k == THETA_K
    assert got.n_retained == n_retained
    assert got.n_exact == len(pairs)
    if n_retained < THETA_K:
        # small-set mode: everything retained, both answers exact
        assert got.est_distinct == float(n_retained)
        assert got.est_sum == round(sum(v for _, v in sketch), 2)
    else:
        theta = sketch[-1][0]
        below = [(u, v) for u, v in sketch if u < theta]
        assert got.theta_num == theta
        assert got.est_distinct == round(
            len(below) * float(_POW2_60) / float(theta), 2
        )
        assert got.est_sum == round(
            float(sum(v for _, v in below)) * float(_POW2_60) / float(theta),
            2,
        )


# ------------------------------------------------- sliding-window HLL


def _hll_estimate_py(keys) -> tuple[int, float]:
    """Pure-Python replay of the repo's HLL chain (md5 bucket/rho,
    integer harmonic sum, linear-counting small-range branch)."""
    from pitlapetl_spark.operators.breadth8 import HLL_M, _HLL_NUMER, _POW2_61

    regs: dict[int, int] = {}
    for k in keys:
        hx = hashlib.md5(str(k).encode()).hexdigest()
        bucket = int(hx[:2], 16)
        rest = int(hx[2:17], 16)
        rho = 61 if rest == 0 else 61 - rest.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    v_empty = HLL_M - len(regs)
    harm = sum(1 << (61 - m) for m in regs.values()) + v_empty * _POW2_61
    e_raw = _HLL_NUMER / float(harm)
    if e_raw <= 2.5 * HLL_M and v_empty > 0:
        return v_empty, HLL_M * math.log(HLL_M / float(v_empty))
    return v_empty, e_raw


def test_sliding_hll_matches_python_replay(spark):
    """Per-day trailing-window estimates must equal a pure-Python HLL
    over that window's user set, and the exact column must equal the
    true windowed distinct count."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["day"] = ev["ts"].dt.floor("D")
    days = sorted(ev["day"].unique())
    got = {
        r.day: r for r in Q["window_hll_sliding_distinct"](spark, SF_SMOKE).collect()
    }
    assert sorted(got) == [pd.Timestamp(d).to_pydatetime() for d in days]
    for d in days:
        lo = d - pd.Timedelta(days=6)
        users = set(ev[(ev["day"] >= lo) & (ev["day"] <= d)]["user_id"])
        v_empty, est = _hll_estimate_py(sorted(users))
        row = got[pd.Timestamp(d).to_pydatetime()]
        assert row.n_exact == len(users)
        assert row.v_empty == v_empty
        assert row.hll_estimate == pytest.approx(round(est, 6), abs=2e-6)


# ------------------------------------------------ partition Merkle diff


def test_merkle_diff_flags_exactly_the_touched_partitions(spark):
    """A partition is dirty iff it contains an edited or dropped key —
    replay the deterministic perturbation in Python and require the
    clean/dirty flags to match that set exactly, with counts agreeing
    on the dropped rows."""
    from pitlapetl_spark.operators.breadth9 import (
        MERKLE_DROP_MOD,
        MERKLE_EDIT_MOD,
    )

    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    orders["pmonth"] = orders["o_orderdate"].dt.strftime("%Y-%m")
    orders["u"] = [
        _md5_prefix_int(f"{int(k)}#m") for k in orders["o_orderkey"]
    ]
    touched = set(
        orders[
            (orders["u"] % MERKLE_EDIT_MOD == 0)
            | (orders["u"] % MERKLE_DROP_MOD == 3)
        ]["pmonth"]
    )
    dropped_by_month = (
        orders[orders["u"] % MERKLE_DROP_MOD == 3]
        .groupby("pmonth")
        .size()
        .to_dict()
    )
    base_by_month = orders.groupby("pmonth").size().to_dict()
    rows = Q["dq_partition_merkle_diff"](spark, SF_SMOKE).collect()
    assert {r.pmonth for r in rows} == set(base_by_month)
    for r in rows:
        assert r.partition_clean == (r.pmonth not in touched), r.pmonth
        assert r.n_base == base_by_month[r.pmonth]
        assert r.n_base - r.n_replica == dropped_by_month.get(r.pmonth, 0)
    # the fixture must exercise both branches
    flags = {r.partition_clean for r in rows}
    assert flags == {True, False}


# ------------------------------------------- watermark lateness audit


def test_lateness_audit_matches_python_bruteforce(spark):
    """Brute-force the per-type arrival-order high-water mark in
    pandas and require every count column to match."""
    from pitlapetl_spark.operators.breadth9 import _US_PER_H

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev.sort_values("event_id")
    ev["ts_us"] = ev["ts"].astype("int64") // 1000
    got = {
        r.event_type: r
        for r in Q["stream_watermark_lateness_audit"](spark, SF_SMOKE).collect()
    }
    for etype, g in ev.groupby("event_type"):
        hwm = g["ts_us"].cummax().shift(1)
        late = (hwm - g["ts_us"]).clip(lower=0).fillna(0)
        row = got[etype]
        assert row.n_events == len(g)
        assert row.n_late == int((late > 0).sum())
        assert row.max_late_s == int(late.max()) // 1_000_000
        for h in (1, 6, 24):
            assert getattr(row, f"dropped_{h}h") == int(
                (late > h * _US_PER_H).sum()
            ), (etype, h)


# ------------------------------------------- semantic top-2 vs top-1


def test_semantic_top2_is_a_superset_of_top1_at_same_tau(spark):
    """Overlapping clusters can only ADD candidate pairs: every pair
    the single-assignment SemDeDup reports must appear in the top-2
    variant with the identical cosine (same tau, same scorer)."""
    top1 = {
        (r.vec_a, r.vec_b): r.cosine
        for r in Q["dedup_semantic_semdedup"](spark, SF_SMOKE).collect()
    }
    top2 = {
        (r.vec_a, r.vec_b): r.cosine
        for r in Q["dedup_semantic_top2"](spark, SF_SMOKE).collect()
    }
    missing = set(top1) - set(top2)
    assert not missing
    for k, v in top1.items():
        assert top2[k] == v
    # and the fixture actually exercises the boundary-split recovery
    # (at least one pair only the overlapping assignment sees)
    assert len(top2) >= len(top1)


# ------------------------------------------- phash compaction parity


def test_phash_compaction_parity_query_is_all_true(spark):
    """The registered parity query's boolean column IS the invariant:
    every band row must come back true with the store folded to one
    generation partition."""
    rows = Q["stream_phash_compacted_parity"](spark, SF_SMOKE).collect()
    from pitlapetl_spark.operators.multimodal import PHASH_BANDS

    assert len(rows) == PHASH_BANDS
    assert all(r.compacted_parity for r in rows)
    assert all(r.store_partitions == 1 for r in rows)


# ------------------------------------ table_diff float-hash device


def test_float_hash_device_matches_duckdb_on_hairy_doubles(spark):
    """The exact hex-float hash key must produce byte-identical
    strings on Spark and DuckDB across the magnitudes and edge values
    that break decimal devices: the scientific-notation band, decimal
    ties at any significant digit (4000000000.5 diverged under %.9e —
    Java HALF_UP vs C half-even), bigint-overflow territory,
    negatives, both zeros, dyadic values, subnormals, 1e300, NaN and
    infinities — and the zero-fraction family (powers of two), where
    Java keeps one fraction digit ('0x1.0p0') but glibc prints the
    shortest form ('0x1p+0'); round-9 ADVICE catch, canonicalized in
    hex_float_key. The test imports the production expression so the
    device and its gate cannot drift."""
    import duckdb

    from pitlapetl_spark.operators.reconcile import hex_float_key

    vals = [
        0.0,
        -0.0,
        5.0e-310,  # subnormal
        0.0000005,
        0.0001,
        1.5,
        560.21,
        0.1953125,  # odd/128 dyadic
        -2.5,
        123456789.123,
        4000000000.5,  # the measured %.9e tie divergence
        4.5e9,
        8.0e15,
        -9.9e18,
        1.23456789012345e300,
        # zero-fraction mantissas: Java '0x1.0pN' vs glibc '0x1p+N'
        1.0,
        2.0,
        0.5,
        -2.0,
        4.0,
        1024.0,
        65536.0,
        float("nan"),
        float("inf"),
        float("-inf"),
    ]
    key = hex_float_key(F.col("v"))
    sdf = spark.createDataFrame([(x,) for x in vals], "v double").select(
        key.alias("s")
    )
    got = [r.s for r in sdf.collect()]
    want = []
    for x in vals:
        lit = {"nan": "'nan'::DOUBLE", "inf": "'infinity'::DOUBLE",
               "-inf": "'-infinity'::DOUBLE"}.get(repr(x), None) or (
            f"CAST({x!r} AS DOUBLE)")
        if repr(x) == "nan":
            lit = "'nan'::DOUBLE"
        elif x == float("inf"):
            lit = "'infinity'::DOUBLE"
        elif x == float("-inf"):
            lit = "'-infinity'::DOUBLE"
        want.append(
            duckdb.sql(
                f"""select CASE WHEN {lit} IS NULL THEN 'null'
                           WHEN isnan({lit}) THEN 'nan'
                           WHEN {lit} = 'infinity'::DOUBLE THEN 'inf'
                           WHEN {lit} = '-infinity'::DOUBLE THEN '-inf'
                           WHEN {lit} = 0 THEN '0'
                           ELSE replace(replace(printf('%a', {lit}),
                                        '.0p', 'p'), 'p+', 'p')
                           END"""
            ).fetchone()[0]
        )
    assert got == want


def test_merkle_diff_surfaces_one_sided_partitions(spark):
    """A partition present on only one side must appear as a dirty
    row with the missing side at count 0 — exercised here through the
    same full-outer fold the query uses, on a frame where one month
    exists only in the base and another only in the replica."""
    from pyspark.sql import Row

    fb = spark.createDataFrame(
        [Row(pmonth="2024-01", n_base=5, fp_base=111),
         Row(pmonth="2024-02", n_base=3, fp_base=222)]
    )
    fr = spark.createDataFrame(
        [Row(pmonth="2024-01", n_replica=5, fp_replica=111),
         Row(pmonth="2024-03", n_replica=7, fp_replica=333)]
    )
    nb = F.coalesce(F.col("n_base"), F.lit(0))
    nr = F.coalesce(F.col("n_replica"), F.lit(0))
    pb = F.coalesce(F.col("fp_base"), F.lit(0))
    pr = F.coalesce(F.col("fp_replica"), F.lit(0))
    rows = {
        r.pmonth: (r.n_base, r.n_replica, r.partition_clean)
        for r in fb.join(fr, "pmonth", "full_outer")
        .select(
            "pmonth",
            nb.alias("n_base"),
            nr.alias("n_replica"),
            ((nb == nr) & (pb == pr)).alias("partition_clean"),
        )
        .collect()
    }
    assert rows["2024-01"] == (5, 5, True)
    assert rows["2024-02"] == (3, 0, False)  # dropped partition: DIRTY
    assert rows["2024-03"] == (0, 7, False)  # new partition: DIRTY
