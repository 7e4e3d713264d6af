"""Physical-plan hygiene gates (SURVEY.md §4, pyspark_guide scaling
rules): predicate pushdown reaches the parquet scan, dimension joins
broadcast, projections prune the read schema. These are the properties
that keep the same plans viable at 100 TB — regressions here are
performance bugs even when results stay correct."""

from __future__ import annotations

import re

import pytest

from pitlapetl_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()
Q = registry.QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushes_to_parquet_scan(spark):
    plan = _plan(Q["filter_flag_and_range"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    # at least one real predicate made it into the scan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no predicates pushed: {pushed!r}"


def test_dimension_join_broadcasts(spark):
    plan = _plan(Q["join_broadcast_lookup"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_projection_prunes_read_schema(spark):
    plan = _plan(Q["project_rename_camel"](spark, SF_SMOKE))
    scan = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # the camel-rename projection touches a handful of columns; a full
    # table read would be a pruning regression
    assert len(scan.split(",")) <= 6, scan


def test_flagship_plan_shape(spark):
    """Flagship = filter -> partial agg -> broadcast right-outer join:
    every stage must show its scale-critical property (AQE hides the
    WholeStageCodegen markers until the final plan, so assert the
    plan shape directly)."""
    plan = _plan(Q["flagship_top_value_per_user"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert "PushedFilters: [IsNotNull" in plan


def test_q6_all_predicates_push_to_scan(spark):
    """Q6 is the pushdown canary: shipdate range, discount band, and
    quantity cap must ALL reach the parquet scan as PushedFilters —
    at 100 TB each lost predicate is a full-column decode."""
    plan = _plan(Q["q6_forecast_revenue"](spark, SF_SMOKE))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q18_aggregates_before_joining(spark):
    """Q18's HAVING floor must apply at the order-grain aggregate
    BEFORE any join — the aggregate is the semi-join filter; joining
    the raw fact to dims first would move the whole fact twice."""
    plan = _plan(Q["q18_large_volume_customers"](spark, SF_SMOKE))
    agg_pos = plan.find("partial_sum")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # the partial agg appears deeper in the tree (later in the string)
    # than every join consuming it
    assert agg_pos > join_pos, "fact joined before aggregation"


def test_agg_has_mapside_partial(spark):
    plan = _plan(Q["agg_pricing_summary"](spark, SF_SMOKE))
    # partial_ aggregates before the exchange = map-side combine
    assert "partial_" in plan


def test_partitioned_write_prunes_on_read(spark):
    """Partition-directory layout + filter -> PartitionFilters prune
    whole directories; the data filter never reaches row groups of
    other partitions. This is the scan-side contract the K1 upsert
    layout (partitionBy key) is designed around."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="pitlap_prune_")
    try:
        from pitlapetl_spark.sources import load_table

        load_table(spark, SF_SMOKE, "events").write.partitionBy(
            "event_type"
        ).mode("overwrite").parquet(f"{tmp}/t")
        df = (
            spark.read.parquet(f"{tmp}/t")
            .filter(F.col("event_type") == "click")
            .select("event_id", "value")
        )
        plan = _plan(df)
        seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "event_type" in seg, plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_embedding_dedup_has_no_nested_loop_join(spark):
    """The registered embedding-dedup entry must be the LSH-bucketed
    sub-quadratic plan: candidates from an equi-join on the bucket key
    (hash join), never an all-pairs BroadcastNestedLoopJoin (r1's
    registered brute-force plan — the one dedup entry that would not
    survive 100 TB)."""
    plan = _plan(Q["dedup_embedding_cosine"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["sim_topk_lsh", "sim_topk_lsh_multiprobe"])
def test_sign_lsh_planes_are_plan_time_literals(spark, name):
    """The sign-LSH hyperplanes are md5-derived once at plan-build time
    and embedded as literal sign arrays: no md5 may be evaluated per
    row (8 planes x 64 dims of md5 calls per vector)."""
    plan = _plan(Q[name](spark, SF_SMOKE))
    assert "md5(" not in plan, plan


def test_capped_jaccard_shrinks_candidate_pairs(spark):
    """The DF cap must measurably shrink the inverted-index pair space
    (its whole point at scale): candidate pairs generated from capped
    shingles < candidate pairs from all shingles, while the capped
    query still finds the planted near-dup pairs."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.functions.text import shingle_rows
    from pitlapetl_spark.operators.dedup import capped_shingle_rows
    from pitlapetl_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")

    def n_candidate_pairs(sh):
        per_shingle = sh.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
        return (
            per_shingle.select(
                F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("p")
            ).collect()[0]["p"]
        )

    full = n_candidate_pairs(shingle_rows(docs))
    capped = n_candidate_pairs(capped_shingle_rows(docs))
    assert capped < full, (capped, full)
    assert Q["dedup_ngram_jaccard_capped"](spark, SF_SMOKE).count() > 0


def test_contamination_broadcasts_eval_shingles(spark):
    """The decontamination gate must broadcast the (tiny) eval shingle
    set — the corpus side is one pass; a SortMergeJoin here would
    shuffle the full corpus shingle relation on the shingle key for no
    reason."""
    plan = _plan(Q["contamination_eval_overlap"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_packing_window_is_sharded(spark):
    """Sequence packing must never collapse the corpus into one task:
    the cumsum window partitions by the shard key (no unpartitioned
    window -> no Exchange SinglePartition over the corpus)."""
    plan = _plan(Q["pack_token_budget"](spark, SF_SMOKE))
    assert "windowspecdefinition(shard" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_driver_standings_rank_is_distributed(spark):
    """The customer-grain standings rank must be the two-stage form:
    the ranked relation is materialized once (checkpoint scan, no
    FileScan re-execution of the upstream join+aggregate), the big
    window partitions by the range-partition id — never the whole
    grain in one task (r1 used an unpartitioned Window over all
    customers) — and the only SinglePartition exchange is the tiny
    per-partition offsets relation."""
    from pyspark.sql import functions as F

    plan = _plan(Q["job_driver_standings"](spark, SF_SMOKE))
    assert "ExistingRDD" in plan, plan  # materialized once
    assert "FileScan" not in plan, plan  # upstream never re-executes
    assert "windowspecdefinition(_pid" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan

    # and the helper ranks exactly like the naive global window
    from pyspark.sql import Window

    from pitlapetl_spark.operators.distributed_rank import global_row_number

    df = spark.range(0, 997).select(
        (F.col("id") * 37 % 997).alias("k"), F.col("id").alias("tib")
    )
    got = {
        (r.k, r.tib): r.position
        for r in global_row_number(
            df, [F.col("k").desc(), F.col("tib")], num_partitions=7
        ).collect()
    }
    want = {
        (r.k, r.tib): r.position
        for r in df.withColumn(
            "position",
            F.row_number().over(Window.orderBy(F.col("k").desc(), "tib")),
        ).collect()
    }
    assert got == want


def test_range_join_binned_is_equi_join(spark):
    """Large-large range join must compile to a shuffled EQUI-join on
    the bin key — never the nested-loop plan Spark picks for a bare
    BETWEEN join (joins.py join_range_binned docstring)."""
    plan = _plan(Q["join_range_binned"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # any HASH/MERGE equi-join on the bin key is the scalable shape;
    # at smoke scale AQE broadcasts the small filtered side, on a
    # cluster the same plan degrades gracefully to sort-merge
    assert (
        "BroadcastHashJoin [bin" in plan
        or "SortMergeJoin [bin" in plan
        or "ShuffledHashJoin [bin" in plan
    ), plan


def test_salted_join_spreads_key_over_salt(spark):
    """The salted skew join must run as a shuffle join keyed on
    (key, salt) — a broadcast would mean the salt did nothing (and the
    hint was dropped)."""
    plan = _plan(Q["join_salted_skew"](spark, SF_SMOKE))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "salt" in plan.split("Join")[1][:200], plan


def test_q5_broadcasts_static_dims_no_cartesian(spark):
    """The 6-table Q5 join: nation/region must broadcast; no
    BroadcastNestedLoopJoin / CartesianProduct may appear anywhere —
    the c_nationkey = s_nationkey cycle must resolve as equi-join
    conditions, not a filter over a cross product."""
    plan = _plan(Q["q5_local_supplier_volume"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q3_topk_never_global_sorts(spark):
    """Q3's ORDER BY + LIMIT must plan as TakeOrderedAndProject
    (per-partition heaps, driver merge of K) — a global Sort before
    the limit would shuffle the whole aggregate at 100 TB."""
    plan = _plan(Q["q3_shipping_priority"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q10_pushes_returnflag_to_scan(spark):
    plan = _plan(Q["q10_returned_items"](spark, SF_SMOKE))
    pushed = plan.split("PushedFilters: [", 1)[1]
    assert "l_returnflag" in pushed.split("]", 1)[0] or "EqualTo(l_returnflag,R)" in pushed


def test_boilerplate_lines_no_nested_loop(spark):
    """Line-vs-boilerplate matching must be an equi-(anti-)join on the
    line string, never a nested-loop scan of the boilerplate set."""
    plan = _plan(Q["text_boilerplate_lines"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_epoch_shuffle_window_is_sharded(spark):
    """shard_pos must come from a window PARTITIONED on the shard
    bucket — an unpartitioned global row_number would serialize the
    whole corpus through one task."""
    plan = _plan(Q["shuffle_epoch_shards"](spark, SF_SMOKE))
    win = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert win, plan
    # windowspecdefinition(partition..., sort..., frame): its first
    # argument list is the partition spec — an unpartitioned window
    # renders windowspecdefinition(<sort> ASC ...) with no partition
    # column before the sort expressions, and the operator's trailing
    # partition list renders as [], [sorts]
    assert "], [], [" not in win[0], f"unpartitioned window: {win[0]}"


def test_winnowing_and_basket_no_cartesian(spark):
    """The winnowing pair join and the basket self-join must stay
    equi-joins — a data-sized nested-loop is corpus-quadratic. The
    basket plan is allowed exactly ONE BroadcastNestedLoopJoin: the
    deliberate crossJoin of the one-row global totals (the approved
    bounded-crossJoin pattern, e.g. kmeans/layout)."""
    for q in ("dedup_winnowing", "dedup_winnowing_fast"):
        plan = _plan(Q[q](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
        # the fingerprint table must be materialized once and fanned
        # out to the four consumers from the checkpoint (Scan
        # ExistingRDD), not re-extracted per consumer — the r3 cost.
        # (A persisted InMemoryRelation variant was tried and reverted:
        # honestly timed it was ~2x slower and leaked cache entries;
        # see the _winnow_pairs materialization comment.)
        assert "Scan ExistingRDD" in plan, q
        # both hash with md5, the hash the DuckDB oracle replays: the
        # fingerprint column is a string, not a LONG (a long renders
        # fp#<id>L in the checkpointed scan — the extraction itself is
        # behind the localCheckpoint)
        assert not re.search(r"fp#\d+L", plan), q

    plan = _plan(Q["market_basket_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row totals only


def test_incremental_minhash_probes_corpus_with_broadcast(spark):
    """The incremental dedup must probe the corpus band store with a
    BROADCAST of the (small) batch bands — shuffling the corpus side
    per crawl would defeat the operator's point — and must never fall
    back to a cartesian pairing."""
    plan = _plan(Q["dedup_incremental_minhash"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pit_join_is_user_equi_join(spark):
    """The temporal PIT join must carry user_id as the equi key with
    the interval predicates as join filters — planning it as a pure
    range nested-loop would scan versions per event."""
    plan = _plan(Q["temporal_pit_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_is_semi_join(spark):
    """Q4's correlated EXISTS must compile to a left-semi hash join on
    l_orderkey (theta residual evaluated post-match) — a per-order
    subquery re-scan or a nested loop would be quadratic in the fact."""
    plan = _plan(Q["q4_order_priority_check"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q7_q8_snowflake_broadcasts_dims(spark):
    """The 6-to-8-table snowflakes must broadcast every dimension role
    (nation twice, region, filtered part) and never plan a cartesian —
    at 100 TB only the fact tables may shuffle."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        plan = _plan(Q[name](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q13_keeps_left_outer_with_on_predicate(spark):
    """Q13's priority exclusion lives in the join's ON clause: the plan
    must keep the LeftOuter join (preserving zero-order customers) —
    if the predicate leaked into a post-join filter the c_count=0 bin
    would vanish."""
    plan = _plan(Q["q13_customer_distribution"](spark, SF_SMOKE))
    assert "LeftOuter" in plan


def test_q15_max_is_broadcast_not_window(spark):
    """Q15's scalar max must be a one-row broadcast joined back, not a
    global all-rows-to-one-partition window."""
    plan = _plan(Q["q15_top_supplier"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q17_threshold_reuses_partkey_exchange(spark):
    """Q17's per-part average and the main join both key on l_partkey;
    the aggregate must partial-combine map-side and the plan must stay
    equi-join only."""
    plan = _plan(Q["q17_small_quantity_revenue"](spark, SF_SMOKE))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_brand_superset_pushes_to_part_scan(spark):
    """Q19's OR-of-ANDs: Catalyst must still push the brand IN-list
    superset to the part scan even though the full disjunction spans
    both join sides."""
    plan = _plan(Q["q19_discounted_revenue"](spark, SF_SMOKE))
    pushed_sections = [s.split("]", 1)[0] for s in plan.split("PushedFilters: [")[1:]]
    assert any("p_brand" in s for s in pushed_sections), pushed_sections
    assert "BroadcastHashJoin" in plan


def test_q21_stacked_semi_anti_joins(spark):
    """Q21's EXISTS/NOT EXISTS pair must be a left-semi then left-anti
    equi-join on l_orderkey — per-order bounded at any scale."""
    plan = _plan(Q["q21_suppliers_kept_waiting"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_scans_filtered_orders(spark):
    """Q22's NOT-EXISTS side must push the recency predicate into the
    orders scan before the anti-join."""
    plan = _plan(Q["q22_dormant_high_balance"](spark, SF_SMOKE))
    assert "LeftAnti" in plan
    pushed_sections = [s.split("]", 1)[0] for s in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderdate" in s for s in pushed_sections), pushed_sections


def test_repeated_spans_no_cartesian_one_fact_agg(spark):
    """The repeated-span plan must stay join-free (round-12 shape):
    the corpus-wide occurrence count is a window COUNT over the gram
    key — one shuffle of the gram rows, replacing the old aggregate +
    semi-join-back — and the island merge is a per-doc window.
    Nothing corpus-quadratic."""
    plan = _plan(Q["dedup_repeated_spans"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "Window" in plan


def test_cdc_latest_state_single_key_shuffle(spark):
    """The changelog collapse must be windows over one key shuffle —
    no join, no second scan of the log."""
    plan = _plan(Q["cdc_latest_state"](spark, SF_SMOKE))
    assert "Window" in plan
    assert "Join" not in plan


def test_winsorize_broadcasts_group_cuts(spark):
    """The per-group percentile cuts (one row per group) must
    broadcast back onto the fact — shuffling the fact against a
    5-row frame would be a plan bug."""
    plan = _plan(Q["winsorize_group_values"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mix_allocation_no_second_corpus_scan(spark):
    """The token totals must derive from the per-language aggregate
    (localCheckpoint reuse), not a second documents scan."""
    plan = _plan(Q["mix_token_allocation"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") <= 1, "documents scanned more than once"


def test_attribution_single_window_no_self_join(spark):
    """Last-touch attribution must be one per-user window (LOCF), not
    an events-to-events range self-join — the naive as-of formulation
    would shuffle the fact twice and explode on hot users."""
    plan = _plan(Q["attribution_last_touch"](spark, SF_SMOKE))
    assert "Window" in plan
    assert "Join" not in plan


def test_spans_apply_no_cartesian_no_corpus_token_explode(spark):
    """The cut must stay doc-local HOF filtering over (token, index)
    structs — no cartesian pairing and no corpus-token explode feeding
    a join (the gram explode is the only explode, and it feeds the
    hash agg)."""
    plan = _plan(Q["dedup_repeated_spans_apply"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_featurizer_two_doc_shuffles_no_pivot(spark):
    """The hashing-trick featurizer must densify via a doc-local array
    expression — no pivot (which plans a wide aggregate per bucket
    column) and no join back to the corpus."""
    plan = _plan(Q["featurize_hashed_ngrams"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert "partial_" in plan


def test_pagerank_unroll_is_bounded_by_checkpoint_cadence(spark):
    """PageRank cuts lineage every round (the shared fixpoint driver),
    so the final plan's join chain is one round's (2 joins + the prep
    join), never the total iteration count's."""
    plan = _plan(Q["graph_pagerank_copurchase"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("Join") <= 3, plan.count("Join")


def test_q2_argmin_broadcasts_min_no_cartesian(spark):
    """Q2's groupwise argmin must join the per-part min back as a
    broadcast equi-join (the min frame is |parts|-bounded) — a window
    over the candidate set or a cartesian would serialize at scale."""
    plan = _plan(Q["q2_min_cost_supplier"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q9_only_fact_shuffles(spark):
    """Q9's part/supplier/nation dims must all broadcast; the only
    sort-merge-eligible join is lineitem-orders on the order key."""
    plan = _plan(Q["q9_product_type_profit"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q11_global_total_is_broadcast_scalar(spark):
    """Q11's share-of-global threshold must be a one-row broadcast
    (nested-loop join against a single row is the legitimate scalar
    shape), never a Window over all parts."""
    plan = _plan(Q["q11_important_stock"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "partial_" in plan  # per-part sum partial-combines map-side


def test_q16_excludes_via_anti_join(spark):
    """Q16's NOT IN supplier exclusion must compile to a broadcast
    left-anti equi-join, and the distinct-pair derivation must
    partial-aggregate map-side."""
    plan = _plan(Q["q16_supplier_part_breadth"](spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q20_qualifier_is_semi_join(spark):
    """Q20's qualifying-supplier set must reduce the dim via a
    left-semi equi-join — the conditional-sum threshold frame never
    multiplies rows into the output."""
    plan = _plan(Q["q20_excess_suppliers"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_ivf_search_is_equi_joins_only(spark):
    """IVF-flat search: probe->list lookup and the rerank must all be
    broadcast equi-joins (query side and centroid table are tiny);
    no cartesian, no nested loop anywhere in the search path."""
    plan = _plan(Q["sim_topk_ivf_nprobe"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_semdedup_pairs_within_cluster_only(spark):
    """SemDeDup's pair stage must be grouped on the cluster key
    (bounded pair space — one BLAS matmul per cluster group since
    r12; before that, an equi-join on the key): the C(n_k,2) pairs
    must never appear as join/shuffle rows, the only nested-loop
    joins allowed are the K-row centroid broadcasts (K = label
    count, tiny by design), and the Python stage must be the grouped
    Arrow form, never row-at-a-time BatchEvalPython."""
    for name in (
        "dedup_semantic_semdedup",
        "dedup_semantic_top2",
        "dedup_semantic_top3",
    ):
        plan = _plan(Q[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") <= 2, name
        assert "FlatMapGroupsInPandas [label" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_dsir_ratio_table_broadcasts(spark):
    """DSIR: the DSIR_DIM-row log-ratio table must broadcast onto the
    per-doc counts (one hash join), the only nested loop is the
    one-row totals cross-join, and the count aggregates must
    partial-combine map-side."""
    plan = _plan(Q["dsir_importance_weights"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_datacard_single_scan_two_shuffles(spark):
    """The corpus data card must partial-aggregate map-side on both
    grains and stay equi-join only (hash join back on the text hash)."""
    plan = _plan(Q["report_corpus_datacard"](spark, SF_SMOKE))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_churn_joins_on_aggregated_grain(spark):
    """Churn's self-join must run on the distinct (year, customer)
    grain (partial-combined), never the raw fact; left-outer kept so
    churned customers survive."""
    plan = _plan(Q["churn_yearly_customers"](spark, SF_SMOKE))
    assert "partial_" in plan
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_rfm_buckets_without_global_window(spark):
    """RFM must bucket via the broadcast one-row quartile cuts — no
    global ntile window over all customers."""
    plan = _plan(Q["rfm_customer_segments"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------- round-5 plan pins


def test_asof_nearest_is_single_exchange(spark):
    """The nearest as-of's whole point: backward last() + forward
    first() share ONE partitioning exchange — a second shuffle would
    mean the dual-window trick regressed to two sorted joins."""
    plan = _plan(Q["asof_join_nearest"](spark, SF_SMOKE))
    assert plan.count("Exchange") == 1, plan


def test_chunker_has_no_exchange(spark):
    """Sliding-window chunking is a narrow map + explode: ANY
    exchange in this plan means the doc-local array formulation
    regressed to a shuffle (e.g. someone reintroduced a per-position
    window)."""
    plan = _plan(Q["text_chunk_sliding_tokens"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_pipeline_to_shards_exactly_two_exchanges(spark):
    """The composed crawl->shards plan carries exactly TWO shuffles —
    the fingerprint window and the shard window. A third exchange
    means a stage boundary stopped fusing (e.g. the gate started
    materializing between stages)."""
    plan = _plan(Q["pipeline_pretrain_to_shards"](spark, SF_SMOKE))
    assert plan.count("Exchange") == 2, plan


def test_linear_fit_is_one_aggregate_pass(spark):
    """Closed-form fit must stay a single partial+final aggregate on
    the group key: one exchange, no join, no second scan of
    lineitem."""
    plan = _plan(Q["ml_linear_fit_closed_form"](spark, SF_SMOKE))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_rag_chunk_dedup_single_exchange(spark):
    """Chunker (zero shuffles) + fp window (one) composed: the whole
    RAG ingestion plan carries exactly ONE exchange, and the
    fragment-length gate runs BEFORE it (no fragment rows shuffle)."""
    plan = _plan(Q["pipeline_rag_chunk_dedup"](spark, SF_SMOKE))
    assert plan.count("Exchange") == 1, plan


def test_runtime_bloom_filter_injects_on_selective_dim_fact_join(spark):
    """VERDICT r5 item 5: exercise Spark's runtime-filter (Bloom)
    pushdown — the scan-reduction lever for a selective dim->fact
    join whose dim side is too big to broadcast. With broadcast off
    (forcing the shuffle join the optimizer targets) and the
    application-side size gate lowered to cover test data, the
    optimizer must build a bloom_filter_agg over the dim's join key
    and probe it with might_contain on the FACT side before the
    shuffle — rows failing the filter never pay exchange cost. The
    conf edits are restored afterward (the default 10 GiB
    application-side threshold is the right production gate; only
    demonstration data is below it), and the filtered plan's result
    must equal the default-conf plan's result."""
    import pyspark.sql.functions as F

    sf = SF_SMOKE
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }

    def q3_shape():
        cust = spark.read.parquet(f"{sf}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        return (
            cust.join(orders, cust.c_custkey == orders.o_custkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    want = sorted(tuple(r) for r in q3_shape().collect())
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = q3_shape()
        plan = _plan(df)
        assert "bloom_filter_agg" in plan, plan  # creation side (dim key)
        assert "might_contain" in plan, plan  # probe pushed to fact side
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        got = sorted(tuple(r) for r in df.collect())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want  # the runtime filter is semantics-free


def test_triangle_closing_join_broadcasts_under_gate(spark):
    """Below the footer-count gate the wedge frame must close against
    a BROADCAST of the edge set — the wedge intermediate (the big
    frame) never shuffles for the closing join. (The degree
    join-backs broadcast too, but they sit behind the ori
    localCheckpoint boundary, invisible to this final plan.)
    Round 7 memoized the counted frame (triangle_node_counts_cached),
    so the registered query's plan is a scan of the checkpoint; the
    shape assertions target the BUILDER pipeline, which is what
    actually executes once per source snapshot."""
    from pitlapetl_spark.operators.community import _triangle_node_counts

    plan = _plan(_triangle_node_counts(spark, SF_SMOKE))
    assert "BroadcastHashJoin [t_a" in plan, plan
    # the wedge join itself is the one edge-keyed exchange pair
    assert "SortMergeJoin [t_b" in plan, plan
    # and the registered consumers both read the memoized frame
    tri_plan = _plan(Q["graph_triangle_count"](spark, SF_SMOKE))
    assert "Scan ExistingRDD" in tri_plan or "LocalTableScan" in tri_plan, tri_plan


def test_month_spine_reuses_monthly_grain_exchange(spark):
    """The spine join lands back on the SAME (custkey, month) grain
    the monthly aggregate produced — no cartesian calendar, and the
    sequence explode stays narrow (no exchange of its own)."""
    plan = _plan(Q["window_month_spine_densify"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """The second scan-reduction lever next to the runtime Bloom
    filter: with the fact laid out in partition directories on the
    join key, a selective dim filter must inject a dynamicpruning
    subquery into the fact scan's PartitionFilters — whole partition
    directories are skipped at runtime, the dominant scan saver for
    date/tenant-partitioned 100-TB facts. (The shipped testdata is
    unpartitioned single files, so this stages a partitioned copy;
    the partition-directory layout is the SCALE.md scans contract.)"""
    import pyspark.sql.functions as F

    fact = str(tmp_path / "orders_part")
    (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .write.partitionBy("o_orderpriority")
        .parquet(fact)
    )
    dim = (
        spark.createDataFrame(
            [("1-URGENT", 10), ("3-MEDIUM", 30)], "prio string, w int"
        )
        .filter(F.col("w") == 10)  # selective: one partition survives
    )
    orders = spark.read.parquet(fact)
    df = (
        orders.join(dim, orders.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["o_orderpriority"] == "1-URGENT"


def test_adamic_adar_no_nested_loop_and_heap_topk(spark):
    """The degree-capped pair self-join must plan as an equi join on
    the customer key (never a nested loop), and the top-k must be
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(Q["graph_adamic_adar"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "\nSort " not in plan  # no top-level global sort operator


def test_naive_bayes_sparse_scoring_single_bnlj(spark):
    """Sparse NB scoring: exactly ONE bounded broadcast-nested-loop
    (the test-docs x 5-row model grid); the feature-likelihood path is
    equi-joined, and the dense vocab x langs grid never appears."""
    plan = _plan(Q["ml_naive_bayes_langid"](spark, SF_SMOKE))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_twap_single_exchange(spark):
    """The lead window and the final aggregate must share ONE
    user-key exchange (Catalyst collapses them)."""
    plan = _plan(Q["window_twap_value"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1


def test_weighted_median_single_exchange(spark):
    """Cumulative-weight window, total window, and the final
    group-by all ride one returnflag exchange."""
    plan = _plan(Q["agg_weighted_median"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1


def test_mad_zscore_scoring_pass_broadcasts_fences(spark):
    """The med/MAD frames must broadcast onto the scoring scan (a
    shuffle join on the type key would re-exchange the whole fact),
    and the top-k is a heap, not a sort."""
    plan = _plan(Q["anomaly_mad_robust_zscore"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_benford_single_aggregate_to_digit_grain(spark):
    """One exchange to the 9-digit grain; everything downstream is
    grain-collapsed."""
    plan = _plan(Q["dq_benford_digits"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1


def test_gini_single_exchange_and_abc_three_rows_shape(spark):
    """Gini: the rank window and the nation-grain aggregate ride ONE
    exchange beyond the customer-grain agg (2 total). ABC: heap-free
    output (3 rows, no global sort operator at top level)."""
    plan = _plan(Q["analytics_gini_spend"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") <= 2
    plan2 = _plan(Q["analytics_abc_classification"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan2


def test_kaplan_meier_fact_scale_is_one_aggregate(spark):
    """The only FACT-scale exchange is the customer-grain min/max
    aggregate (keyed on o_custkey); the second hash exchange is the
    duration-grain grid (tens of rows) and the KM windows themselves
    run single-partition."""
    plan = _plan(Q["survival_kaplan_meier"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "hashpartitioning(o_custkey" in plan


def test_cusum_collapses_before_windows(spark):
    """The CUSUM operator must aggregate to day grain BEFORE any
    window (a HashAggregate sits between the parquet scan and every
    Window in the bottom-up dump): no window may run over raw fact
    rows. (ts_seasonal_decompose shares the tail via cusum_from_daily
    but lineage-cuts its daily frame, so its plan dump hides the
    subtree — the shared-code path is the guarantee there.)"""
    plan = _plan(Q["anomaly_cusum_changepoint"](spark, SF_SMOKE))
    first_window = plan.find("Window")
    scan = plan.rfind("Scan parquet")
    agg = plan.rfind("HashAggregate")
    assert first_window != -1 and scan != -1
    assert first_window < agg < scan


def test_negative_sampling_single_bnlj_and_key_join(spark):
    """One bounded scalar BNLJ (the N broadcast); the label lookup is
    an equi join, never a nested loop."""
    plan = _plan(Q["training_negative_sampling"](spark, SF_SMOKE))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_geo_cell_join_is_equi_join_not_cartesian(spark):
    """The radius search must plan as a hash equi-join on the cell
    ints (broadcast here — the supplier side is tiny; shuffled on
    cell keys at scale) with zero cartesian/nested-loop nodes, and
    the haversine predicate stays a post-join Filter."""
    plan = _plan(Q["geo_cell_radius_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bm25_query_filter_reaches_the_token_explode(spark):
    """The query-term isin must filter BEFORE the tf aggregate (only
    query-term rows reach that shuffle) and the top-k is a heap. The
    token frame itself is a materialized checkpoint (one corpus
    explode serves both the dl and tf branches — review finding), so
    the executed plan's leaves are RDD scans, not parquet: assert the
    filter + heap on the post-checkpoint plan and the single-scan
    structure via the leaf count."""
    plan = _plan(Q["text_bm25_search"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    # the term filter appears as an IN-list condition on the token
    # column of the CHECKPOINTED frame, below the tf aggregate
    assert " IN (" in plan or "INSET" in plan.upper()
    # both token branches read the one materialized RDD; the only
    # parquet scan left is the zero-column count-star for N (idf) —
    # a metadata-only read (ReadSchema: struct<>)
    assert "Scan ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 1
    assert "ReadSchema: struct<>" in plan


def test_kanonymity_is_one_aggregate_tree(spark):
    """The audit must be a pure aggregation tree on the QI key: no
    join, no window, and exactly the TWO hash exchanges exact
    count-distinct costs (distinct-grain (QI, band) partial, then the
    QI-grain final — Spark's standard two-phase distinct plan; an
    approx_count_distinct swap would drop it to one at the price of
    sketch error, documented at the operator)."""
    plan = _plan(Q["privacy_k_anonymity"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


# ------------------------- round-7 session-4 operators (breadth7c/d)


def test_bridge_pushes_date_range_and_prunes(spark):
    """analytics_price_volume_bridge's year filter is a DATE RANGE so
    it reaches the parquet scan (year(col) IN (...) would not), and
    the lineitem read is pruned to the 4 columns the bridge needs."""
    from pitlapetl_spark.operators.breadth7c import bridge_by_year

    plan = _plan(bridge_by_year(spark, SF_SMOKE))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    li_scans = [
        seg.split("ReadSchema: ", 1)[1].splitlines()[0]
        for seg in plan.split("FileScan")[1:]
        if "lineitem" in seg.split("ReadSchema:")[0]
    ]
    assert li_scans, "no lineitem scan found"
    for scan in li_scans:
        assert len(scan.split(",")) <= 4, scan


def test_referential_integrity_no_nested_loop(spark):
    """dq_referential_integrity must audit each FK as an equi join —
    a nested-loop anywhere means a relation lost its join key."""
    plan = _plan(Q["dq_referential_integrity"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_reconciliation_joins_on_order_key(spark):
    """dq_order_total_reconciliation joins header to line totals on
    the order key (hash or sort-merge equi join, never nested-loop),
    and both scans prune to the pricing columns."""
    plan = _plan(Q["dq_order_total_reconciliation"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    li_scans = [
        seg.split("ReadSchema: ", 1)[1].splitlines()[0]
        for seg in plan.split("FileScan")[1:]
        if "lineitem" in seg.split("ReadSchema:")[0]
    ]
    for scan in li_scans:
        assert len(scan.split(",")) <= 4, scan


def test_assortativity_reuses_memoized_edges(spark):
    """graph_degree_assortativity consumes basket_pair_edges_cached:
    after the frame_cache warms, the executed plan starts from the
    materialized edge RDD and re-scans NO parquet."""
    df = Q["graph_degree_assortativity"](spark, SF_SMOKE)
    df.collect()  # warm the memo
    plan = _plan(Q["graph_degree_assortativity"](spark, SF_SMOKE))
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan


def test_permutation_test_aggregates_mapside(spark):
    """stats_permutation_test's (replicate, arm) sums must carry a
    map-side partial so the rows x B explode combines before the
    shuffle."""
    plan = _plan(Q["stats_permutation_test"](spark, SF_SMOKE))
    assert "partial" in plan.lower()


def test_merkle_diff_never_joins_rows(spark):
    """The partition Merkle diff's whole point: the only join in the
    plan is the full-outer of the two O(partitions) fingerprint
    frames — no row-level join on the order key may appear, and the
    xor fold must combine map-side (partial_bit_xor before the
    exchange). Every join operator line is scanned (SortMergeJoin,
    BroadcastHashJoin, ShuffledHashJoin) — checking only the first
    SMJ line would miss a regressed row-level join that AQE plans as
    a broadcast at smoke scale, or a second SMJ (round-9 ADVICE)."""
    plan = _plan(Q["dq_partition_merkle_diff"](spark, SF_SMOKE))
    join_lines = [
        ln
        for ln in plan.splitlines()
        if any(
            op in ln
            for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
        )
    ]
    assert join_lines, "expected the fingerprint-frame full-outer join"
    for ln in join_lines:
        assert "o_orderkey#" not in ln, f"row-level join key in plan: {ln}"
    # both sides aggregate to the pmonth grain BEFORE any join
    assert plan.count("partial_bit_xor") >= 2, plan[:500]


def test_sliding_hll_folds_events_once(spark):
    """The sketch twin's headline property: the events parquet is
    scanned a bounded number of times (register fold + exact verifier
    + day spine), never once per window day — 30 days x 1 scan would
    be the regression."""
    plan = _plan(Q["window_hll_sliding_distinct"](spark, SF_SMOKE))
    scans = plan.count("FileScan parquet")
    assert scans <= 4, f"{scans} event scans"


def test_lateness_audit_single_window_single_agg(spark):
    """One per-key window over arrival order, one fold — no join,
    no second shuffle of the fact."""
    plan = _plan(Q["stream_watermark_lateness_audit"](spark, SF_SMOKE))
    assert plan.count("Window") == 1, plan.count("Window")
    assert "Join" not in plan


def test_theta_sketch_is_takeordered_not_global_sort(spark):
    """The K-smallest retention must plan as TakeOrderedAndProject
    (per-partition top-K + merge), never a full global Sort of the
    hashed keys. Since the r12 lineage cuts the sketch subplan is
    hidden behind a Scan ExistingRDD in the registered query's final
    explain, so the TakeOrdered property is pinned on the sketch
    BUILDER (the exact frame the query checkpoints), and the final
    plan is pinned to the checkpointed shape with no global sort."""
    from pyspark.sql import functions as F

    from pitlapetl_spark.operators.breadth9 import _theta_sketch_frame

    # xxhash64 breaks Range's natural ordering and the row count
    # exceeds THETA_K — otherwise the optimizer legitimately
    # eliminates the sort (input already ordered) and the limit
    # (maxRows <= K) and the probe would assert on an empty plan
    hashed = spark.range(1000).select(
        F.xxhash64("id").alias("u"),
        F.lit(1.0).cast("decimal(18,2)").alias("val"),
    )
    sub = _plan(_theta_sketch_frame(hashed))
    assert "TakeOrderedAndProject" in sub, sub
    plan = _plan(Q["agg_theta_sketch_distinct_sum"](spark, SF_SMOKE))
    assert "Scan ExistingRDD" in plan, plan  # the lineage cut held
    assert "Sort " not in plan, plan  # no global sort resurfaced


def test_url_gate_single_exchange_no_join(spark):
    """The URL gate's documented shape (webgate module docstring):
    rules 1-6 are narrow map-side string expressions, the blocklist
    is a literal IN, and the ONLY shuffle is the window on the
    canonical URL — no join anywhere, exactly one Exchange."""
    plan = _plan(Q["text_url_canonicalize_gate"](spark, SF_SMOKE))
    assert "Join" not in plan, plan
    n_exchanges = sum(
        1 for ln in plan.splitlines() if "Exchange" in ln and "reused" not in ln.lower()
    )
    assert n_exchanges == 1, f"expected the single window exchange, got {n_exchanges}:\n{plan}"
    assert "Window" in plan
