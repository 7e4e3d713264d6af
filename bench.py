"""Legacy headline benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

The project's benchmark is ``perfbench/`` (``BENCHMARK.json``); this
script is kept so the ``BENCH_*.json`` history stays reproducible.
It writes the result to BENCH_FULL.json and prints it as one JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute) and materialized with
the ``noop`` sink, which forces full computation of every row without
paying serialization-to-driver or disk-write cost — the honest measure
of engine throughput.

Each query is run three times and the MIN is reported (declared as
``"timing": "min_of_3"`` in the JSON): single cold runs conflate
whole-stage-codegen compilation and host load spikes with engine
throughput (observed: the same commit's heaviest query swinging
7.9s -> 13.3s across days purely from machine load; round 3's bench
recorded a phantom 2.1x on an unchanged query, and round-4 idle
re-runs showed sub-second queries bouncing +-50% under co-tenant
load — min_of_2 was not enough insulation). Min-of-N warm timing is
the standard way to measure the steady-state plan cost.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pitlapetl_spark import registry  # noqa: E402
from pitlapetl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per heavy operator family —
# scan+filter+agg, wide hash agg, shuffle join, window, nested-doc
# assembly, as-of join, top-k, plus the LLM-pipeline operators
# (dedup / similarity / text). Names missing from the registry
# (not yet built in an early round) are skipped.
HEADLINE = (
    "flagship_top_value_per_user",
    "agg_pricing_summary",
    "job_practice_laps",
    "join_broadcast_lookup",
    "join_left_outer",
    "window_standings_rank",
    "window_rolling_frame",
    "json_doc_assembly",
    "asof_join_last_order",
    "topk_global",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "text_quality_score",
    "stream_session_windows",
    "rollup_hierarchy_day_from_hour",
    "apply_in_pandas_zscore",
    # round 2: training-prep surface
    "contamination_eval_overlap",
    "pack_token_budget",
    # round 2: new heavy families (binned range join, iterative ML)
    "join_range_binned",
    "kmeans_lloyd_clusters",
    # round 3: classic warehouse joins + boilerplate-line dedup +
    # market basket. (round 5: `dedup_winnowing` — the md5 oracle twin —
    # is retired from the headline per VERDICT r4 item 3: it exists so
    # DuckDB can replay the fingerprints and pays an md5-per-position
    # determinism tax that no production pipeline pays. It stays
    # registered + driver-checked; `dedup_winnowing_fast` below is the
    # benched production path, pair-set-pinned to the twin.)
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "text_boilerplate_lines",
    "market_basket_pairs",
    # round 4: xxhash64 winnowing production path,
    # incremental dedup, and two more warehouse
    # classics (Q6 = the pushdown canary, Q18 = aggregate-as-semi-join)
    "dedup_winnowing_fast",
    "dedup_incremental_minhash",
    "q6_forecast_revenue",
    "q18_large_volume_customers",
    # round 4 (this session): exact-substring dedup spans (xxhash64
    # production twin), the dual-role snowflake Q7, and the stacked
    # semi/anti Q21 — each a heavy shape not yet represented
    "dedup_repeated_spans_fast",
    "dedup_repeated_spans_apply",
    "q7_volume_shipping",
    "q21_suppliers_kept_waiting",
    "graph_pagerank_copurchase",
    # round 4 (session 3): the TPC-H-completion tranche's two heavy
    # members — Q9 (widest snowflake + fact-fact orderkey join) and
    # Q2 (derived supplier-part relation + groupwise argmin join-back)
    "q9_product_type_profit",
    "q2_min_cost_supplier",
    # round 4 (session 3): the IVF ANN search path and DSIR importance
    # weighting — the two new LLM-pipeline heavyweights
    "sim_topk_ivf_nprobe",
    "dsir_importance_weights",
    # round 5: the composed crawl->shards pipeline (gate + shard +
    # pack in ONE plan — the nightly job a real corpus runs), the
    # Bloom-prefilter incremental exact dedup, and the two new
    # text-family ops (RAG chunker, BPE pair statistics)
    "pipeline_pretrain_to_shards",
    "dedup_bloom_prefilter",
    "text_chunk_sliding_tokens",
    "text_bpe_pair_stats",
    # round 5 session 2: the composed RAG ingestion plan, PMI
    # collocation mining (vocabulary-join family), the single-exchange
    # nearest as-of, and label-propagation communities (the second
    # iterative-graph bench entry next to PageRank)
    "pipeline_rag_chunk_dedup",
    "text_pmi_cooccurrence",
    "asof_join_nearest",
    "graph_label_propagation",
    # round 6: triangle counting (the third iterative/graph bench
    # entry — wedge-join family), hamming-LSH perceptual-hash dedup
    # (multimodal mapInPandas + banding), PQ-ADC ANN (codes-scan
    # search next to IVF), batch-GD logistic regression (multi-scan
    # iterative ML next to kmeans), and the calendar-spine
    # densification (per-key sequence explode + grain join-back)
    "graph_triangle_count",
    "mm_phash_hamming_near_dup",
    "sim_topk_pq_adc",
    "ml_logreg_gradient_descent",
    "window_month_spine_densify",
    # round 6 session 2: Adamic-Adar (the heaviest new shape — the
    # degree-capped common-neighbor self-join) and sparse-scored
    # Naive Bayes (train+score in one plan, the fourth ML entry)
    "graph_adamic_adar",
    "ml_naive_bayes_langid",
    # round 6 session 3: the spatial-join family head (grid-cell
    # cover join) and the fourth iterative-graph member (k-core
    # peeling over the shared co-purchase edge frame)
    "geo_cell_radius_join",
    "graph_kcore_decomposition",
    # round 7: local clustering coefficient (fifth graph member —
    # shares the memoized basket-edge build with triangle counting,
    # so its marginal cost IS the memo story), the windowed funnel
    # (array-resolution family), Kendall tau-b (keyed day-pair
    # concordance join), the gaps-and-islands streak window, the
    # double-rolling-distinct stickiness metric, and the two-period
    # tier-migration matrix (two quantile-cut passes + full outer)
    "graph_clustering_coefficient",
    "funnel_windowed_steps",
    "stats_kendall_tau",
    "window_streak_active_days",
    "window_dau_mau_stickiness",
    "analytics_tier_migration",
    # round 7 session 4: degree assortativity (sixth graph member —
    # two part-grain joins over the SAME memoized basket-edge frame
    # triangle counting builds, so in-process marginal cost is the
    # joins alone), Dunning-LLR collocations (the PMI family's
    # robust-at-low-counts sibling, same explode+marginal-join
    # shape), the Z-order locality diagnostic (one scan + distinct
    # counts over generated Morton keys), and the U-shaped
    # attribution (user-key window + channel fold)
    "graph_degree_assortativity",
    "text_collocation_llr",
    "layout_zorder_locality",
    "attribution_position_based",
    # round 8: the production L-tables LSH (recall path next to the
    # IVF and PQ entries — union-of-bucket-matches candidate shape),
    # the volume-proportional percentile-sketch window, the gated
    # two-pass heavy hitters (sketch + broadcast gate + pruned
    # exact count), the interval->calendar proration explode, the
    # position-postings phrase join, and the three-window capped
    # sessionizer
    # (analytics_revenue_proration stays OFF the headline: the
    # synthetic spans average 28 months, so its explode mass is 28x
    # the fact — a pathological fixture artifact, measured and
    # documented in SCALE.md, that would dominate the headline wall
    # without representing a real workload)
    "sim_topk_lsh_ltables",
    "window_rolling_median_events",
    "agg_heavy_hitters_gated",
    "text_phrase_search",
    "sessionize_capped",
    # round 9: the top-2-centroid SemDeDup (the recall fix's cost is
    # the point — ~4x candidate mass vs single assignment), the
    # pre-aggregated banding LSH (one-shuffle shape next to the
    # join-shaped sibling), the KMV/theta distinct-sum sketch, the
    # sliding-window HLL merge, the partition Merkle fingerprints,
    # the watermark lateness audit, and the store compaction-parity
    # roundtrip (tempdir writes + two compactions — the wall is the
    # store lifecycle, not a scan)
    "dedup_semantic_top2",
    "dedup_minhash_lsh_preagg",
    "agg_theta_sketch_distinct_sum",
    "window_hll_sliding_distinct",
    "dq_partition_merkle_diff",
    "stream_watermark_lateness_audit",
    "stream_phash_compacted_parity",
    # round 10: the semantic ingest stream-vs-batch parity roundtrip
    # (drives the real sink body over 3 micro-batches + two store
    # compactions + the batch SemDeDup twin — the wall is the store
    # lifecycle plus two full dedup passes, the family's heaviest
    # registered query by design)
    "stream_semantic_compacted_parity",
    # round 11: the URL front-door ingest parity roundtrip (the
    # fourth crawl-ingest family member — exact-key dedup, so the
    # wall is the store lifecycle + the batch gate twin, not a
    # candidate join) and the exact-substring span-dedup ingest
    # parity (the fifth member — the streaming Lee-et-al cut; the
    # wall is the gram extraction run 1 + 2 times: per batch and in
    # the batch twin recomputed for the cleaned-corpus comparison)
    "stream_url_gate_compacted_parity",
    "stream_span_dedup_compacted_parity",
    # round 12: the composed crawl-ingest pipeline parity (URL gate
    # -> span cut -> minhash -> semantic chained per micro-batch over
    # 3 batches — the wall is four store lifecycles in sequence; the
    # family's end-to-end composition entry)
    "stream_ingest_pipeline_parity",
)


def _materialize(df) -> int:
    """Force full execution without driver-side collection."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    registry.load_all()
    spark = get_spark(
        app_name="pitlapetl_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM / codegen warm-up so the first timed query isn't charged for it
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    queries = registry.all_queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        timings[name] = _time_query(spark, fn, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "timing": "min_of_3",
        "queries": timings,
        "sf": sf_val,
    }
    Path(_REPO, "BENCH_FULL.json").write_text(json.dumps(result, indent=1))
    print(json.dumps(result))


def _time_query(spark, fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        _materialize(fn(spark, SF_DIR))
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


if __name__ == "__main__":
    main()
