"""Self-tests of the benchmark's pure helpers; no Spark is started.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import gen
import harness
import workloads


# ------------------------------------------------------------ tail percentile


@pytest.mark.parametrize("n", [20, 21, 30, 57, 100, 1000, 20000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = list(np.random.default_rng(n).permutation(n) + 1.0)
    p, value = harness.tail_percentile(samples)
    rank = math.ceil(p / 100 * n)
    assert value == rank  # samples are 1..n, so the value is its rank
    assert n - rank >= 10
    higher = [q for q in harness.TAIL_PERCENTILES if q > p]
    assert all(n - math.ceil(q / 100 * n) < 10 for q in higher)


def test_tail_examples():
    assert harness.tail_percentile(list(range(1, 101))) == (90, 90)
    assert harness.tail_percentile(list(range(1, 31)))[0] == 66


@pytest.mark.parametrize("n", [1, 5, 10, 19])
def test_tail_with_too_few_samples_is_the_maximum(n):
    assert harness.tail_percentile(list(range(n, 0, -1))) == (100.0, n)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        harness.tail_percentile([])


# ------------------------------------------------------------ canonical digest


def frame():
    return pd.DataFrame({"k": [3, 1, 2], "name": ["c", "a", "b"], "v": [0.1 + 0.2, 1.5, -2.0]})


def test_frames_match_ignores_row_and_column_order():
    a = frame()
    b = a[["v", "name", "k"]].iloc[::-1].reset_index(drop=True)
    b.loc[b.k == 3, "v"] = 0.3  # differs from 0.1 + 0.2 below the canonical 9 dp
    assert harness.frames_match(a, b) is None
    assert harness.canon_hash(a) == harness.canon_hash(b)


def test_frames_match_reports_each_kind_of_difference():
    a = frame()
    assert harness.frames_match(a, a.drop(columns="v")).startswith("columns")
    assert harness.frames_match(a, a.iloc[:2]).startswith("rows")
    corrupt = a.copy()
    corrupt.loc[1, "v"] += 1e-6
    assert harness.frames_match(a, corrupt) == "values differ"
    assert harness.canon_hash(a) != harness.canon_hash(corrupt)


def test_id_digest_is_order_insensitive():
    assert harness.id_digest([3, 1, 2]) == harness.id_digest(np.array([1, 2, 3]))
    assert harness.id_digest([1, 2]) != harness.id_digest([1, 2, 3])


# ------------------------------------------------------------ correctness gate


@pytest.fixture(scope="module")
def tables_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("inputs")
    gen.write_tables(gen.star_schema(7, 0.002), str(d))
    return str(d)


ORACLE = "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation GROUP BY n_regionkey"


def expected(tables_dir):
    nation = pd.read_parquet(f"{tables_dir}/nation.parquet")
    return nation.groupby("n_regionkey").size().rename("n").reset_index()


def run_gate(tables_dir, result):
    out = workloads.Outcome()
    rows = workloads.gate(out, {"per_region": lambda: result}, tables_dir, ("nation",),
                          {"per_region": ORACLE})
    return out, rows


def test_gate_passes_a_correct_result(tables_dir):
    out, rows = run_gate(tables_dir, expected(tables_dir))
    assert out.failures == [] and out.attempted == 1 and rows == {"per_region": 5}


def test_gate_fails_a_corrupted_result(tables_dir):
    bad = expected(tables_dir)
    bad.loc[0, "n"] += 1
    out, _ = run_gate(tables_dir, bad)
    assert out.failures == ["per_region: values differ"]


def test_gate_fails_a_vacuous_result(tables_dir):
    out, _ = run_gate(tables_dir, expected(tables_dir).iloc[:0])
    assert len(out.failures) == 1


def test_gate_fails_when_the_operation_raises(tables_dir):
    def boom():
        raise RuntimeError("operation failed")

    out = workloads.Outcome()
    workloads.gate(out, {"per_region": boom}, tables_dir, ("nation",), {"per_region": ORACLE})
    assert len(out.failures) == 1 and "operation failed" in out.failures[0]


# ------------------------------------------------------------ generator


def test_same_seed_same_digest_other_seed_other_digest():
    assert gen.digest(gen.star_schema(1, 0.002)) == gen.digest(gen.star_schema(1, 0.002))
    assert gen.digest(gen.star_schema(1, 0.002)) != gen.digest(gen.star_schema(2, 0.002))
    assert gen.digest(gen.corpus(1, 200)) == gen.digest(gen.corpus(1, 200))
    assert gen.digest(gen.corpus(1, 200)) != gen.digest(gen.corpus(2, 200))


def test_star_schema_keys_resolve():
    t = {k: v.to_pandas() for k, v in gen.star_schema(3, 0.005).items()}
    assert t["orders"].o_custkey.isin(t["customer"].c_custkey).all()
    assert t["lineitem"].l_orderkey.isin(t["orders"].o_orderkey).all()
    assert t["lineitem"].l_partkey.isin(t["part"].p_partkey).all()
    assert t["lineitem"].l_suppkey.isin(t["supplier"].s_suppkey).all()
    assert t["events"].user_id.isin(t["customer"].c_custkey).all()
    assert t["customer"].c_nationkey.isin(t["nation"].n_nationkey).all()
    assert set(t["nation"].n_regionkey) == set(t["region"].r_regionkey)


def test_corpus_plants_near_duplicates_and_aligns_embeddings():
    c = gen.corpus(5, 400)
    docs, emb = c["documents"].to_pandas(), c["embeddings"].to_pandas()
    assert (docs.doc_id == emb.vec_id).all()
    assert (docs.n_chars == docs.text.str.len()).all()
    norms = np.linalg.norm(np.stack(emb.embedding.values), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
    words = docs.text.str.split()
    near = sum(
        any(len(w) == len(v) and sum(a != b for a, b in zip(w, v)) <= max(gen.EDIT_LADDER)
            for v in words[:i])
        for i, w in enumerate(words))
    assert 0.15 * len(docs) < near < 0.4 * len(docs)  # planted share is 0.25


def test_tick_delta_only_inserts_and_updates_payload():
    base = gen.star_schema(4, 0.005)
    delta = gen.tick_delta(base, 4, 0, 0.05)
    assert delta.changed_rows > 0
    assert gen.digest(delta.tables) == gen.digest(gen.tick_delta(base, 4, 0, 0.05).tables)
    for name, keys, fixed in (
        ("orders", "o_orderkey", ["o_custkey", "o_orderstatus", "o_orderdate"]),
        ("events", "event_id", ["user_id", "event_type", "ts"]),
        ("customer", "c_custkey", ["c_name", "c_nationkey"]),
        ("lineitem", None, list(base["lineitem"].column_names)),
    ):
        old, new = base[name].to_pandas(), delta.tables[name].to_pandas()
        assert len(new) >= len(old)
        kept = new.iloc[:len(old)]
        if keys is not None:
            assert (kept[keys].values == old[keys].values).all()
        pd.testing.assert_frame_equal(kept[fixed].reset_index(drop=True), old[fixed])
    old_ev, new_ev = base["events"].to_pandas(), delta.tables["events"].to_pandas()
    below = old_ev.value < 300
    assert (new_ev.value.iloc[:len(old_ev)][below] < 300).all()


# ------------------------------------------------------------ bound check


def test_spread_is_quartile_distance_over_median():
    assert harness.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)
    assert harness.spread([2.0] * 10) == 0.0


def test_bound_violations_skip_setup_and_flag_wide_metrics():
    runs = [{"setup_s": s, "op_s_p50": p} for s, p in zip([1, 5, 9, 13], [1.0, 1.0, 1.3, 1.6])]
    assert harness.bound_violations(runs, {"setup_s": 0.25, "op_s_p50": 0.5}) == {}
    over = harness.bound_violations(runs, {"setup_s": 0.25, "op_s_p50": 0.1})
    assert list(over) == ["op_s_p50"]


def test_median_regressions_respect_direction():
    first = [{"lat": 1.0, "rate": 100.0}] * 3
    second = [{"lat": 1.3, "rate": 70.0}] * 3
    better = {"lat": "lower", "rate": "higher"}
    worse = harness.median_regressions(first, second, {"lat": 0.2, "rate": 0.2}, better)
    assert worse == pytest.approx({"lat": 0.3, "rate": 0.3})
    assert harness.median_regressions(second, first, {"lat": 0.2, "rate": 0.2}, better) == {}
