"""Semantic/property tests for the round-6 session-3 operators — the
invariants the DuckDB hash-compare can't express: grid-cover
completeness of the spatial cell join (every within-radius pair is
found by the 3x3 ring), k-core defining property (every member's
in-core degree >= K, maximality via a python peel replay), int8
quantization error bounds (per-dim error <= half a quantization
step), containment's asymmetry vs Jaccard, and Neyman allocation
arithmetic replayed in python.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from pitlapetl_spark import registry
from pitlapetl_spark.sources import load_table
from tests.conftest import SF_SMOKE

registry.load_all()
Q = registry.QUERIES


def _coords(key: int) -> tuple[float, float]:
    return (-45.0 + key * 7919 % 9000 / 100.0, -20.0 + key * 104729 % 4000 / 100.0)


def _haversine(lat1, lon1, lat2, lon2) -> float:
    r = math.radians
    a = (
        math.sin(r(lat2 - lat1) / 2) ** 2
        + math.cos(r(lat1)) * math.cos(r(lat2)) * math.sin(r(lon2 - lon1) / 2) ** 2
    )
    return 2 * 6371.0088 * math.asin(math.sqrt(a))


def test_cell_join_equals_bruteforce_radius_search(spark):
    """The grid-cell ring join returns EXACTLY the brute-force
    within-radius pair set — i.e. the 3x3 cover misses nothing at the
    worst latitude in range (the _CELL_DEG derivation) and the cell
    pre-filter admits nothing outside the radius after the exact
    haversine."""
    from pitlapetl_spark.operators.spatial import RADIUS_KM

    custs = [r.c_custkey for r in load_table(spark, SF_SMOKE, "customer").collect()]
    supps = [r.s_suppkey for r in load_table(spark, SF_SMOKE, "supplier").collect()]
    expect = set()
    for c in custs:
        clat, clon = _coords(c)
        for s in supps:
            slat, slon = _coords(s)
            if round(_haversine(clat, clon, slat, slon), 6) <= RADIUS_KM:
                expect.add((c, s))
    got = {(r.custkey, r.suppkey) for r in Q["geo_cell_radius_join"](spark, SF_SMOKE).collect()}
    assert got == expect
    assert got  # non-vacuous at smoke scale


def test_kcore_defining_property_and_python_peel_replay(spark):
    """Every returned node's stated core_deg counts only edges to
    other returned nodes and is >= K; and the returned set equals an
    independent python peel to fixpoint (maximality: nothing outside
    the set could have survived)."""
    from pitlapetl_spark.operators.kcore import KCORE_K
    from pitlapetl_spark.operators.pagerank import copurchase_edges

    edges = [(r.src, r.dst) for r in copurchase_edges(spark, SF_SMOKE).collect()]
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    alive = set(adj)
    while True:
        nxt = {n for n in alive if sum(1 for m in adj[n] if m in alive) >= KCORE_K}
        if nxt == alive:
            break
        alive = nxt

    rows = Q["graph_kcore_decomposition"](spark, SF_SMOKE).collect()
    got = {
        (2 * r.entity_key if r.entity == "customer" else 2 * r.entity_key + 1): r.core_deg
        for r in rows
    }
    assert set(got) == alive
    for n, deg in got.items():
        true_deg = sum(1 for m in adj[n] if m in alive)
        assert deg == true_deg and deg >= KCORE_K


def test_int8_quantization_error_is_bounded_by_half_step(spark):
    """Scalar quantization guarantees |x - decode(encode(x))| <=
    scale_d / (2*255) per dimension — so each vector's max_abs_err
    must respect the WORST dimension's bound, and mse <= max_abs^2."""
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    dims = defaultdict(list)
    for r in emb:
        for i, x in enumerate(r.embedding):
            dims[i].append(float(x))
    worst_step = max((max(v) - min(v)) / 255.0 for v in dims.values())
    out = Q["sim_quantize_int8"](spark, SF_SMOKE).collect()
    assert len(out) == len(emb)
    for r in out:
        assert 0.0 <= r.max_abs_err_q8 <= worst_step / 2 + 1e-9
        assert 0.0 <= r.mse_q8 <= r.max_abs_err_q8**2 + 1e-12


def test_containment_bounds_and_relation_to_jaccard(spark):
    """Containment is in (0, 1]; for any emitted (a in b) pair the
    SAME pair's Jaccard over the capped sets is <= its containment
    (J = i/(na+nb-i) <= i/na always); and a full-containment pair of
    different sizes would NOT reach the Jaccard threshold — the
    asymmetric metric exists because the symmetric one misses these."""
    from pitlapetl_spark.operators.dedup import capped_shingle_rows

    sh = defaultdict(set)
    for r in capped_shingle_rows(load_table(spark, SF_SMOKE, "documents")).collect():
        sh[r.doc_id].add(r.s)
    out = Q["dedup_containment_capped"](spark, SF_SMOKE).collect()
    assert out
    for r in out:
        a, b = sh[r.doc_contained], sh[r.doc_container]
        i = len(a & b)
        assert 0.0 < r.containment <= 1.0
        assert abs(r.containment - round(i / len(a), 6)) < 1e-9
        jac = i / (len(a) + len(b) - i)
        assert round(jac, 6) <= r.containment + 1e-9


def test_neyman_allocation_replay(spark):
    """Replay the allocation arithmetic in python from the raw rows:
    per-stratum counts must equal floor(SAMPLE_N * N_h*S_h / sum), and
    the drawn rows must be the md5-rank prefix of each stratum."""
    import hashlib

    from pitlapetl_spark.operators.breadth import SAMPLE_N

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .collect()
    )
    strata = defaultdict(list)
    for r in li:
        strata[r.l_returnflag].append(r)
    w = {}
    for f, rows in strata.items():
        n = len(rows)
        sx = sum(round(r.l_extendedprice, 4) for r in rows)
        sxx = sum(round(r.l_extendedprice, 4) ** 2 for r in rows)
        s = math.sqrt((sxx - sx * sx / n) / (n - 1))
        w[f] = round(n * s, 6)
    tot = sum(w.values())
    alloc = {f: math.floor(SAMPLE_N * wh / tot) for f, wh in w.items()}

    out = Q["sample_neyman_allocation"](spark, SF_SMOKE).collect()
    got_counts = defaultdict(int)
    got_keys = defaultdict(set)
    for r in out:
        got_counts[r.returnflag] += 1
        got_keys[r.returnflag].add((r.orderkey, r.linenumber, r.price))
    assert dict(got_counts) == {f: n for f, n in alloc.items() if n > 0}
    for f, rows in strata.items():
        ranked = sorted(
            rows,
            key=lambda r: (
                hashlib.md5(f"{r.l_orderkey}-{r.l_linenumber}".encode()).hexdigest(),
                r.l_orderkey,
                r.l_linenumber,
                r.l_extendedprice,
            ),
        )
        expect = {
            (r.l_orderkey, r.l_linenumber, r.l_extendedprice) for r in ranked[: alloc[f]]
        }
        assert got_keys[f] == expect


def test_herfindahl_bounds_and_replay(spark):
    """HHI in (10000/n, 10000]; replay one nation's index from raw
    revenue shares."""
    out = {r.nation: r for r in Q["analytics_herfindahl_market"](spark, SF_SMOKE).collect()}
    assert out
    li = load_table(spark, SF_SMOKE, "lineitem")
    supp = load_table(spark, SF_SMOKE, "supplier")
    nat = load_table(spark, SF_SMOKE, "nation")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")).alias("r"))
        .collect()
    )
    by_nation = defaultdict(list)
    for r in rev:
        by_nation[r.n_name].append(float(r.r))
    for nation, vals in by_nation.items():
        t = sum(vals)
        hhi = sum(round((v / t) * (v / t) * 10000, 8) for v in vals)
        row = out[nation]
        assert row.n_suppliers == len(vals)
        assert abs(row.hhi - round(hhi, 6)) < 1e-4
        assert 10000.0 / len(vals) - 1e-6 <= row.hhi <= 10000.0 + 1e-6


def test_bm25_python_replay(spark):
    """Full BM25 replay from raw tokens — idf/tf/length-norm
    arithmetic and the top-k cut."""
    from pitlapetl_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        BM25_TOP,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: r.text.lower().split() for r in docs}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {
        q: sum(1 for t in toks.values() if q in t)
        for q in BM25_QUERY
    }
    scores = {}
    for d, t in toks.items():
        s = 0.0
        for q in BM25_QUERY:
            tf = t.count(q)
            if not tf:
                continue
            idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s += round(
                idf * tf * (BM25_K1 + 1) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * len(t) / avgdl)),
                8,
            )
        if s:
            scores[d] = round(s, 6)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOP]
    got = [(r.doc_id, r.bm25) for r in Q["text_bm25_search"](spark, SF_SMOKE).collect()]
    assert got == expect


def test_k_anonymity_partitions_and_flags(spark):
    """Group sizes partition the table; flags are consistent with the
    stated thresholds; at least one group on each side of the k cut
    at smoke scale (the audit is non-degenerate)."""
    from pitlapetl_spark.operators.quality import K_ANON, L_DIVERSE

    rows = Q["privacy_k_anonymity"](spark, SF_SMOKE).collect()
    total = load_table(spark, SF_SMOKE, "customer").count()
    assert sum(r.group_size for r in rows) == total
    for r in rows:
        assert r.k_anonymous == (r.group_size >= K_ANON)
        assert r.l_diverse == (r.l_sensitive >= L_DIVERSE)
        assert 1 <= r.l_sensitive <= r.group_size
    assert any(r.k_anonymous for r in rows)


def test_theil_decomposition_identity_and_bounds(spark):
    """Theil-T is additively decomposable: total = between + sum of
    share-weighted within terms (to rounding tolerance); between and
    total are non-negative (Jensen)."""
    rows = {r.component: r.value for r in Q["analytics_theil_decomposition"](spark, SF_SMOKE).collect()}
    assert {"total", "between", "within"} <= set(rows)
    assert rows["total"] >= -1e-9
    assert rows["between"] >= -1e-9
    assert abs(rows["total"] - (rows["between"] + rows["within"])) < 1e-4
    nation_terms = [v for k, v in rows.items() if k.startswith("within_nation_")]
    assert nation_terms and all(v >= -1e-9 for v in nation_terms)


def test_theil_sen_python_replay_and_robustness_shape(spark):
    """Replay both slopes per type from raw rows: Theil-Sen = median
    of pairwise slopes over the daily means, OLS from moment sums."""
    import statistics

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("day"), "value")
        .collect()
    )
    agg = defaultdict(lambda: defaultdict(list))
    for r in rows:
        agg[r.event_type][r.day].append(r.value)
    out = {r.event_type: r for r in Q["ml_theil_sen_trend"](spark, SF_SMOKE).collect()}
    for et, days in agg.items():
        series = sorted(days.items())
        t0 = series[0][0]
        pts = [
            ((d - t0).days, round(sum(round(v, 8) for v in vs) / len(vs), 8))
            for d, vs in series
        ]
        slopes = [
            round((m2 - m1) / (t2 - t1), 8)
            for i, (t1, m1) in enumerate(pts)
            for (t2, m2) in pts[i + 1 :]
        ]
        if not slopes:
            assert et not in out
            continue
        ts = round(statistics.median(slopes), 8)
        n = len(pts)
        sx = sum(t for t, _ in pts)
        sy = sum(m for _, m in pts)
        sxy = sum(t * m for t, m in pts)
        sxx = sum(t * t for t, _ in pts)
        ols = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8)
        r = out[et]
        assert abs(r.theil_sen_slope - ts) < 1e-6, et
        assert abs(r.ols_slope - ols) < 1e-6, et
        assert r.n_pairs == len(slopes)


def test_mase_seasonal_naive_replay(spark):
    """Replay MASE per type: seasonal-naive errors joined on the
    DATE shift (gap-robust), last-7-days test split."""
    import datetime

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("day"), "value")
        .collect()
    )
    agg = defaultdict(lambda: defaultdict(list))
    for r in rows:
        agg[r.event_type][r.day].append(r.value)
    out = {r.event_type: r for r in Q["ts_forecast_baseline_mase"](spark, SF_SMOKE).collect()}
    for et, days in agg.items():
        m = {
            d: round(sum(round(v, 8) for v in vs) / len(vs), 8)
            for d, vs in days.items()
        }
        mx = max(m)
        test_ae, train_ae = [], []
        for d, v in m.items():
            prev = d - datetime.timedelta(days=7)
            if prev not in m:
                continue
            ae = round(abs(v - m[prev]), 8)
            (test_ae if d > mx - datetime.timedelta(days=7) else train_ae).append(ae)
        if not test_ae or not train_ae:
            assert et not in out
            continue
        mae_t = sum(test_ae) / len(test_ae)
        mase = round(mae_t / (sum(train_ae) / len(train_ae)), 6)
        r = out[et]
        assert r.n_test == len(test_ae)
        assert abs(r.mase - mase) < 1e-5, et
        assert abs(r.mae_test - round(mae_t, 6)) < 1e-5, et


def test_item_item_cosine_replay_and_topk(spark):
    """Replay the full neighbor ranking from raw baskets; verify the
    cosine formula, the min-pair floor, and the per-item top-k cut."""
    rows = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    from pitlapetl_spark.operators.analytics import CF_MIN_PAIR, CF_TOP_K

    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    n_item = defaultdict(int)
    n_pair = defaultdict(int)
    for parts in baskets.values():
        for p in parts:
            n_item[p] += 1
        for p in parts:
            for q in parts:
                if p != q:
                    n_pair[(p, q)] += 1
    per_item = defaultdict(list)
    for (p, q), c in n_pair.items():
        if c >= CF_MIN_PAIR:
            cos = round(c / math.sqrt(n_item[p] * n_item[q]), 6)
            per_item[p].append((-cos, q, c))
    expect = {}
    for p, lst in per_item.items():
        for rk, (negcos, q, c) in enumerate(sorted(lst)[:CF_TOP_K], 1):
            expect[(p, rk)] = (q, c, -negcos)
    got = {
        (r.item, r.rnk): (r.neighbor, r.n_pair, r.cosine)
        for r in Q["rec_item_item_cosine"](spark, SF_SMOKE).collect()
    }
    assert got == expect and got


def test_cuped_replay_and_variance_never_worse(spark):
    """Replay theta/variances per type from raw rows; at the optimal
    theta the adjusted variance can never exceed the raw variance."""
    import datetime

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "user_id", F.date_trunc("day", "ts").alias("day"), "value")
        .collect()
    )
    from pitlapetl_spark.operators.stats import CUPED_SPLIT_DAYS

    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    out = {r.event_type: r for r in Q["ab_cuped_adjustment"](spark, SF_SMOKE).collect()}
    for et, rs in by_type.items():
        d0 = min(r.day for r in rs)
        cut = d0 + datetime.timedelta(days=CUPED_SPLIT_DAYS)
        per = defaultdict(lambda: [0.0, 0.0])
        for r in rs:
            per[r.user_id][0 if r.day < cut else 1] += round(r.value, 8)
        xs = [v[0] for v in per.values()]
        ys = [v[1] for v in per.values()]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        cov_n = n * sxy - sx * sy
        varx_n = n * sxx - sx * sx
        vary_n = n * syy - sy * sy
        r = out[et]
        assert r.n_users == n
        assert abs(r.theta - round(cov_n / varx_n, 8)) < 1e-5
        assert abs(r.var_post - round(vary_n / (n * (n - 1)), 6)) < 1e-3
        assert r.var_cuped <= r.var_post + 1e-9
        assert 0.0 <= r.var_reduction_pct <= 100.0 + 1e-9


def test_conformal_full_python_replay_and_coverage(spark):
    """Full replay: hash split, decimal-moment OLS, calibration order
    statistic, held-out coverage — plus the conformal sanity band
    around 1-alpha."""
    import hashlib

    from pitlapetl_spark.operators.stats import CONF_ALPHA

    rows = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .collect()
    )
    splits = defaultdict(lambda: ([], [], []))  # train, cal, test
    for r in rows:
        hk = hashlib.md5(f"{r.l_orderkey}-{r.l_linenumber}".encode()).hexdigest()
        tup = (r.l_quantity, r.l_extendedprice, hk)
        tr, ca, te = splits[r.l_returnflag]
        (tr if hk[0] <= "7" else ca if hk[0] <= "b" else te).append(tup)
    out = {r.returnflag: r for r in Q["ml_conformal_interval"](spark, SF_SMOKE).collect()}
    for flag, (tr, ca, te) in splits.items():
        n = len(tr)
        sx = sum(round(x, 2) for x, _, _ in tr)
        sy = sum(round(y, 4) for _, y, _ in tr)
        sxy = sum(round(x, 2) * round(y, 4) for x, y, _ in tr)
        sxx = sum(round(x, 2) ** 2 for x, _, _ in tr)
        slope = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8)
        icept = round((sy - slope * sx) / n, 8)
        cal_r = sorted(
            (round(abs(y - (slope * x + icept)), 6), hk) for x, y, hk in ca
        )
        k = min(math.ceil((len(ca) + 1) * (1 - CONF_ALPHA)), len(ca))
        q90 = cal_r[k - 1][0]
        hits = sum(
            1 for x, y, _ in te if round(abs(y - (slope * x + icept)), 6) <= q90
        )
        r = out[flag]
        assert (r.n_train, r.n_cal, r.n_test) == (n, len(ca), len(te))
        assert abs(r.slope - slope) < 1e-6 and abs(r.icept - icept) < 1e-4
        assert abs(r.q90 - q90) < 1e-6
        assert abs(r.coverage - round(hits / len(te), 6)) < 1e-6
        # distribution-free guarantee is in expectation; allow finite-
        # sample slack around 1-alpha
        assert r.coverage >= 1 - CONF_ALPHA - 0.08


def test_diff_in_diff_replay_and_cell_identity(spark):
    """Replay all four cell means and the DiD contrast per type; the
    contrast must equal the double difference of the emitted cells."""
    import datetime

    from pitlapetl_spark.operators.stats import CUPED_SPLIT_DAYS

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "user_id", F.date_trunc("day", "ts").alias("day"), "value")
        .collect()
    )
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    out = {r.event_type: r for r in Q["stats_diff_in_diff"](spark, SF_SMOKE).collect()}
    for et, rs in by_type.items():
        d0 = min(r.day for r in rs)
        cut = d0 + datetime.timedelta(days=CUPED_SPLIT_DAYS)
        cells = defaultdict(list)
        for r in rs:
            cells[(r.user_id % 2, 1 if r.day >= cut else 0)].append(round(r.value, 8))
        mean = {k: sum(v) / len(v) for k, v in cells.items()}
        o = out[et]
        assert abs(o.mean_treat_post - round(mean[(1, 1)], 6)) < 1e-4
        assert abs(o.mean_control_pre - round(mean[(0, 0)], 6)) < 1e-4
        did = (mean[(1, 1)] - mean[(1, 0)]) - (mean[(0, 1)] - mean[(0, 0)])
        assert abs(o.did - round(did, 6)) < 1e-4
        assert o.n_rows == len(rs)


def test_oov_rate_replay_and_split_hygiene(spark):
    """Replay the vocab build and per-doc OOV scoring; only held-out
    (odd) docs appear, and every rate is n_oov/n_tokens."""
    from pitlapetl_spark.operators.text import OOV_VOCAB_K

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    counts = defaultdict(int)
    for r in docs:
        if r.doc_id % 2 == 0:
            for w in r.text.lower().split():
                counts[w] += 1
    vocab = {
        w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:OOV_VOCAB_K]
    }
    out = {r.doc_id: r for r in Q["text_oov_rate"](spark, SF_SMOKE).collect()}
    assert all(d % 2 == 1 for d in out)
    for r in docs:
        if r.doc_id % 2 == 0:
            assert r.doc_id not in out
            continue
        toks = r.text.lower().split()
        oov = sum(1 for w in toks if w not in vocab)
        o = out[r.doc_id]
        assert (o.n_tokens, o.n_oov) == (len(toks), oov)
        assert abs(o.oov_rate - round(oov / len(toks), 6)) < 1e-9


def test_markov_baseline_replay(spark):
    """Replay the transition model from even users and the held-out
    accuracy from odd users, including the argmax tiebreak."""
    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    trans = defaultdict(int)
    test_pairs = []
    for u, evs in by_user.items():
        evs.sort()
        for (_, _, cur), (_, _, nxt) in zip(evs, evs[1:]):
            if u % 2 == 0:
                trans[(cur, nxt)] += 1
            else:
                test_pairs.append((cur, nxt))
    states = {c for c, _ in trans}
    model = {
        c: min((n for (cc, n) in trans if cc == c), key=lambda n: (-trans[(c, n)], n))
        for c in states
    }
    expect = {}
    per_state = defaultdict(lambda: [0, 0])
    for cur, nxt in test_pairs:
        if cur in model:
            per_state[cur][0] += 1
            per_state[cur][1] += 1 if nxt == model[cur] else 0
    for c, (n, hits) in per_state.items():
        expect[c] = (model[c], n, round(hits / n, 6))
    got = {
        r.event_type: (r.predicted, r.n_test, r.top1_accuracy)
        for r in Q["seq_markov_next_event"](spark, SF_SMOKE).collect()
    }
    assert got == expect and got


def test_hits_python_replay(spark):
    """Replay HITS_ITERS normalized rounds in python with the same
    rounding schedule; the top-k authorities must match exactly, and
    the full authority vector must be L1-normalized."""
    from pitlapetl_spark.operators.hits import HITS_ITERS, HITS_TOP

    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    )
    edges = [(r.o_custkey, r.l_partkey) for r in rows]
    hubs = {c: 1.0 for c, _ in edges}
    auth = {}
    for _ in range(HITS_ITERS):
        auth = defaultdict(float)
        for c, p in edges:
            auth[p] += round(hubs[c], 12)
        s = sum(round(a, 12) for a in auth.values())
        auth = {p: round(a / s, 12) for p, a in auth.items()}
        hubs = defaultdict(float)
        for c, p in edges:
            hubs[c] += round(auth[p], 12)
        s = sum(round(h, 12) for h in hubs.values())
        hubs = {c: round(h / s, 12) for c, h in hubs.items()}
    expect = sorted(auth.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOP]
    got = [
        (r.partkey, r.authority)
        for r in Q["graph_hits_authorities"](spark, SF_SMOKE).collect()
    ]
    # length first — a zip over an empty result would pass vacuously
    assert [p for p, _ in got] == [p for p, _ in expect]
    for (ep, ea), (gp, ga) in zip(expect, got):
        assert ep == gp and abs(ea - ga) < 1e-9
    assert abs(sum(auth.values()) - 1.0) < 1e-6


def test_release_waterfall_composition_consistency(spark):
    """The waterfall must agree with the standalone operators it
    composes: exact_dup rows = pretrain_filter's is_dup; near_dup
    rows are a subset of docs appearing as a contained side in
    dedup_containment_capped (or the mutual lower-id rule); every
    released doc passes all four stages; statuses partition the
    corpus."""
    wf = {r.doc_id: r.status for r in Q["pipeline_release_waterfall"](spark, SF_SMOKE).collect()}
    flat = {r.doc_id: r for r in Q["pipeline_pretrain_filter"](spark, SF_SMOKE).collect()}
    contained_pairs = [
        (r.doc_contained, r.doc_container)
        for r in Q["dedup_containment_capped"](spark, SF_SMOKE).collect()
    ]
    assert set(wf) == set(flat)
    contained_docs = {a for a, _ in contained_pairs}
    mutual = {(a, b) for a, b in contained_pairs if (b, a) in contained_pairs}
    for doc, status in wf.items():
        f = flat[doc]
        if f.is_dup:
            assert status == "exact_dup"
        elif not f.lang_ok:
            assert status == "lang"
        elif status == "near_dup":
            # dropped by the containment stage: either one-way
            # contained, or mutual with the lower-id partner kept
            assert doc in contained_docs or any(
                b == doc and a < b for a, b in mutual
            ) or any(a == doc and b < a for a, b in mutual)
        elif status == "released":
            assert f.keep or not f.is_dup  # released implies gate-passing
            assert f.lang_ok and not f.is_dup
    assert "released" in set(wf.values()) and len(set(wf.values())) >= 3


def test_ltv_curve_replay_and_monotonicity(spark):
    """Replay cohort assignment, member counts, and the cumulative
    per-member LTV; the curve must be non-decreasing in age within
    each cohort."""
    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", F.date_trunc("month", "o_orderdate").alias("m"), "o_totalprice")
        .collect()
    )
    first = {}
    for r in rows:
        if r.o_custkey not in first or r.m < first[r.o_custkey]:
            first[r.o_custkey] = r.m
    sizes = defaultdict(int)
    for m in first.values():
        sizes[m] += 1
    rev = defaultdict(float)
    for r in rows:
        c = first[r.o_custkey]
        age = (r.m.year - c.year) * 12 + (r.m.month - c.month)
        rev[(c, age)] += round(r.o_totalprice, 2)
    out = Q["analytics_cohort_ltv_curve"](spark, SF_SMOKE).collect()
    assert out
    got = {(r.cohort_month, r.age_months): r for r in out}
    by_cohort = defaultdict(list)
    for (c, age), v in rev.items():
        by_cohort[c].append((age, v))
    for c, pairs in by_cohort.items():
        cum = 0.0
        key = c.strftime("%Y-%m")
        prev = -1.0
        for age, v in sorted(pairs):
            cum += v
            r = got[(key, age)]
            assert r.n_members == sizes[c]
            expect = round(cum / sizes[c], 4)
            assert abs(r.cum_ltv_per_member - expect) < 1e-3, (c, age)
            assert r.cum_ltv_per_member >= prev - 1e-9
            prev = r.cum_ltv_per_member
