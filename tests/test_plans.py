"""Physical-plan assertions: the scale contracts, checked mechanically.

The 100 TB design points (broadcast dims, pushdown, TakeOrderedAndProject)
are claims about the PHYSICAL plan, so the tests read the plan: if a
refactor silently turns the dim join into a sort-merge or de-pushes a
filter, these fail before any benchmark notices.
"""

from __future__ import annotations

import re

import pytest

from reddit_data_engineering_project_spark import registry

from conftest import SF_DIR

registry.load_all_operators()


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_broadcast_dim_join_is_broadcast(spark):
    plan = _plan(spark, "q10_join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q10_join_inner_star")
    # customer/nation/region all ride in as broadcasts.
    assert plan.count("BroadcastHashJoin") >= 3


def test_projection_prunes_scan(spark):
    plan = _plan(spark, "q02_projection_pruning")
    # 5 of 11 lineitem columns in the parquet ReadSchema, and no more.
    assert "l_orderkey" in plan and "l_extendedprice" in plan
    assert "l_shipdate" not in plan  # unused column never deserialized


def test_filters_push_to_parquet(spark):
    plan = _plan(spark, "q03_filter_predicates")
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1][:400]


def test_global_topk_avoids_total_sort(spark):
    plan = _plan(spark, "q04_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_star_report_plan_contracts(spark):
    plan = _plan(spark, "q10_star_report")
    # Per-nation top-3 prunes during the sort, nation rides as broadcast,
    # and the date predicate reaches the orders parquet scan.
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_range_join_broadcasts_tiny_side(spark):
    plan = _plan(spark, "q11_range_join_bands")
    assert "BroadcastNestedLoopJoin" in plan


def test_asof_join_has_single_shuffle_no_range_join(spark):
    plan = _plan(spark, "q11_asof_join")
    # Union trick: no join node at all, one hash exchange for the window.
    assert "Join" not in plan
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_runtime_bloom_filter_reaches_fact_side(spark):
    """A selective dim filter should inject a runtime bloom filter on the
    fact side of a shuffle join (`spark.sql.optimizer.runtime.bloomFilter`
    — the shuffle-join sibling of DPP's partition pruning). At 100 TB
    this is what keeps a fact⋈filtered-dim sort-merge join from
    shuffling fact rows that cannot match; at test scale the dim is
    broadcast-able (so the rule correctly declines — asserted too) and
    the thresholds must be forced to surface the shuffle-join shape.

    Ordering trap this test pins: `tables.table()` re-asserts the
    session's standard confs (64 MB broadcast threshold), so the
    overrides must be set AFTER the DataFrames are built — conf state at
    OPTIMIZATION time is what the rule sees."""
    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark.tables import table

    orders = table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lineitem = table(spark, SF_DIR, "lineitem")
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select("l_orderkey", "l_quantity", "o_orderpriority")

    # Broadcast-able dim -> no runtime filter (broadcast join already
    # prunes during the probe; a bloom filter would be pure overhead).
    baseline = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" not in baseline

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "1b",
    )
    try:
        # Fresh DataFrame: a QueryExecution caches optimizedPlan, so the
        # baseline probe above must not be reused post-conf-change.
        rejoined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).select("l_orderkey", "l_quantity", "o_orderpriority")
        optimized = rejoined._jdf.queryExecution().optimizedPlan().toString()
        # Creation side: bloom built from the filtered dim's join keys.
        assert "bloom_filter_agg" in optimized, optimized
        # Application side: fact rows probed before the join shuffle.
        assert "might_contain" in optimized, optimized
        assert rejoined.count() > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_percentile_gate_broadcasts_thresholds(spark):
    # The per-source threshold relation is |sources| rows: it must ride
    # in as a broadcast so the corpus scan never shuffles.
    plan = _plan(spark, "x04_quality_percentile_gate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_centroids_broadcast_both_probe_joins(spark):
    # Centroids (10 rows) broadcast into BOTH the corpus assignment and
    # the query probe; the candidate join broadcasts the probe rows.
    plan = _plan(spark, "x03_ivf_topk")
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 3
    assert "CartesianProduct" not in plan


def test_recall_join_broadcasts_found_side(spark):
    """recall@k joins two |queries|·k-row sides: the found side rides in
    as a broadcast, so neither side is shuffled and sorted for a
    sort-merge join (x03_hamming_rerank shares the roll-up)."""
    for name in ("x03_ann_recall_report", "x03_hamming_rerank"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin LeftOuter" in plan, name


def test_split_leakage_audit_adds_no_join_for_split(spark):
    # Split membership is integer arithmetic on doc_id: the audit's plan
    # must contain exactly the LSH pipeline's joins (shingle self-join +
    # two count joins in verification), no split-table join on top.
    import re

    plan = _plan(spark, "pipeline_split_leakage_audit")
    base = _plan(spark, "x02_minhash_lsh_neardup")
    n_joins = lambda p: len(re.findall(r"\(\d+\) \w*Join", p))
    assert n_joins(plan) == n_joins(base)


def test_boilerplate_join_broadcasts_boiler_set(spark):
    """The corpus-side block stream joins the (tiny, filtered)
    boilerplate set as a broadcast — never shuffled for the join."""
    plan = _plan(spark, "x04_boilerplate_removal")
    assert "BroadcastHashJoin LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_apply_single_exchange_shared_window_sort(spark):
    """Rank + audit count evaluate off ONE shuffle by entity key: two
    Window nodes over a single Exchange/Sort pair."""
    plan = _plan(spark, "q19_cdc_apply")
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    assert plan.count("Window (") == 2
    assert "SortMergeJoin" not in plan  # no self-join formulation


def test_global_shuffle_no_global_sort(spark):
    """Training-order shuffle = shard-partitioned window, not a
    total-order Sort (no rangepartitioning exchange)."""
    plan = _plan(spark, "x04_global_shuffle")
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("Window (") == 1


def test_bm25_broadcasts_df_and_stats(spark):
    """df (<= |query| rows) and the 1-row corpus stats broadcast; the
    corpus-side term stream never sort-merge joins."""
    plan = _plan(spark, "x04_bm25_scores")
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_copurchase_basket_form_avoids_fact_self_join(spark):
    """Pair generation rides the basket comprehension: no sort-merge
    self-join of the fact table; frequency/count sides broadcast."""
    plan = _plan(spark, "q21_copurchase_lift")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_local_supplier_volume_broadcasts_all_dims(spark):
    """TPC-H Q5 topology: four broadcast dim joins, fact never
    cartesian/sort-merge joined at dim scale."""
    plan = _plan(spark, "q10_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_sessionize_single_exchange_two_windows(spark):
    """Both windows (lag flag, running ordinal) and the per-session
    rollup share one user_id hash partitioning: exactly one data
    Exchange, and the final aggregate needs no re-shuffle."""
    plan = _plan(spark, "q21_sessionize_gap")
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    assert plan.count("Window (") == 2


def test_gapfill_spine_broadcasts_events_agg_once(spark):
    """The only event-sized exchange is the hourly pre-aggregate; the
    spine/type grid and the aggregated grid all ride as broadcasts."""
    plan = _plan(spark, "q22_timeseries_gapfill")
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan
    # no event-sized cartesian: the one cross join is bounds x types
    # (tree-line spelling; the node-detail section repeats the name)
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1


def test_rolling_zscore_single_exchange_sliding_frame(spark):
    plan = _plan(spark, "q22_rolling_zscore")
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    assert plan.count("Window (") == 1
    assert "rangepartitioning" not in plan.lower()


def test_fuzzy_neardup_blocking_is_equi_join(spark):
    """Candidate generation must be an equi-join on (lang, prefix8) —
    never a cartesian — with the bounded-threshold verifier riding as a
    post-join condition, not a separate pass."""
    plan = _plan(spark, "x02_fuzzy_levenshtein_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_bpe_pair_census_uses_topk_not_global_sort(spark):
    """Pair census top-100 rides per-partition heads, never a
    total-order sort of the pair space."""
    plan = _plan(spark, "x04_bpe_pair_stats")
    assert "rangepartitioning" not in plan.lower() or "WindowGroupLimit" in plan


def test_char_entropy_two_aggregates_share_doc_key(spark):
    """(doc, char) census then per-doc fold: both aggregates and no
    join anywhere — entropy is a pure aggregation pipeline."""
    plan = _plan(spark, "x04_char_entropy")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 stages


def test_pq_codebook_and_queries_broadcast_corpus_never_shuffles(spark):
    """Global scale, codebook row, and the 5 queries all ride as
    broadcasts; the corpus scan reaches the ranking window without a
    data shuffle except the per-query rank exchange."""
    plan = _plan(spark, "x03_pq_topk")
    assert plan.count("BroadcastExchange") >= 3
    assert "SortMergeJoin" not in plan


def test_incremental_maintain_preaggregates_before_merge(spark):
    """Both sides reach the full-outer merge at state size: two
    aggregate pairs below the join, no event-sized join input."""
    plan = _plan(spark, "q19_incremental_agg_maintain")
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan
    assert plan.count("HashAggregate") >= 4


def test_locf_window_runs_over_grid_not_events(spark):
    """The carry-forward frame partitions by event_type over the dense
    grid; the event-sized work is the one hourly aggregate."""
    plan = _plan(spark, "q22_locf_fill")
    assert plan.count("Window (") == 1
    assert "SortMergeJoin" not in plan


def test_events_monitor_single_event_sized_exchange(spark):
    """All three event-order windows and the session rollup ride ONE
    user_id exchange + sort; the only other exchange is day-sized."""
    plan = _plan(spark, "pipeline_events_monitor")
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 2
    assert plan.count("Sort (") == 1
    assert plan.count("Window (") == 2  # frame+lag fused, running ordinal


def test_weighted_median_single_exchange(spark):
    """Running-weight window, group-total window, and the final min all
    stack on one hash exchange of the group key."""
    plan = _plan(spark, "q07_weighted_median")
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1


def test_range_interval_frame_single_exchange(spark):
    """q13_range_interval_frames: one user_id hash exchange feeds the
    RANGE-frame window; the event-type filter reaches the parquet scan."""
    plan = _plan(spark, "q13_range_interval_frames")
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert "PushedFilters" in plan and "event_type" in plan


def test_source_caps_is_rank_then_filter_one_exchange(spark):
    """x04_source_caps: the domain cap is one source-keyed exchange plus
    a per-partition sort — no join, no second shuffle."""
    plan = _plan(spark, "x04_source_caps")
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(source" in plan
    assert "Join" not in plan


def test_triangle_count_all_hash_joins_no_cartesian(spark):
    """q21_triangle_count: wedge build and closure are equi hash joins —
    a cartesian anywhere means the orientation trick broke — and the
    degree-ordered oriented edge list is persisted ONCE and read by all
    three plan branches (column pruning defeats ReusedExchange here, so
    an InMemoryTableScan missing means the orientation subtree — basket
    build + two degree joins — runs three times)."""
    plan = _plan(spark, "q21_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_rfm_anchor_is_broadcast(spark):
    """q21_rfm_segments: the 1-row max-date anchor joins as a broadcast,
    never a shuffle."""
    plan = _plan(spark, "q21_rfm_segments")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_centroids_broadcast_corpus_never_shuffles_for_scoring(spark):
    """x03_kmeans_step: the k centroids ride in as a broadcast; the only
    hash exchanges are the per-vector arg-min window and the final
    (cluster, dim) aggregate."""
    plan = _plan(spark, "x03_kmeans_step")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()  # map-side combine on the mean agg


def test_ewma_shares_one_window_frame(spark):
    """q22_ewma_window: all lag terms evaluate inside ONE window node
    over one user_id exchange — k lags must not become k passes."""
    plan = _plan(spark, "q22_ewma_window")
    assert plan.count("Window") <= 2  # one Window op (+ possible header)
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_heavy_hitters_topk_no_global_sort(spark):
    """q07_heavy_hitters: the top-20 must ride TakeOrderedAndProject over
    the count aggregate, never a rangepartitioning total sort."""
    plan = _plan(spark, "q07_heavy_hitters")
    assert "Exchange rangepartitioning" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_asof_tolerance_single_exchange_no_join(spark):
    """q11_asof_tolerance: same contract as the base as-of — the union
    trick leaves no join node and exactly one user_id hash exchange."""
    plan = _plan(spark, "q11_asof_tolerance")
    assert "Join" not in plan
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_spend_trend_two_aggregates_no_window_no_fact_join(spark):
    """q21_spend_trend_ols: the moments pipeline is stacked hash
    aggregates with map-side partials; the date anchor joins broadcast."""
    plan = _plan(spark, "q21_spend_trend_ols")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()


def test_bpe_merge_choice_is_broadcast(spark):
    """x04_bpe_merge_apply: the 1-row merge choice must broadcast into
    the rewrite projection — a shuffle there would move the corpus."""
    plan = _plan(spark, "x04_bpe_merge_apply")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_feature_store_joins_at_user_scale(spark):
    """pipeline_feature_store: the date anchor broadcasts; no cartesian;
    every aggregate runs with map-side partials before its exchange."""
    plan = _plan(spark, "pipeline_feature_store")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_knn_corpus_never_shuffles_for_scoring(spark):
    """x03_knn_classify: queries broadcast into the corpus scan — the
    scoring join must be broadcast, never a shuffled join."""
    plan = _plan(spark, "x03_knn_classify")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan.split("Window")[0]  # scoring side


def test_table_diff_is_single_full_outer_join(spark):
    """q12_table_diff: exactly one join node (the keyed full outer) —
    a second join would mean the classifier left the projection."""
    plan = _plan(spark, "q12_table_diff")
    # formatted explain names each node twice (tree + detail header), so
    # count join NODES via their detail blocks.
    assert plan.count("Join type:") == 1
    assert "Join type: FullOuter" in plan


def test_ab_ztest_collapses_before_arithmetic(spark):
    """q21_ab_lift_ztest: the fact table dies in the first partial-agg;
    no join, no window anywhere."""
    plan = _plan(spark, "q21_ab_lift_ztest")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial" in plan.lower()


def test_value_functions_share_one_frame(spark):
    """q13_value_functions: all five value functions share one window
    node over one user_id exchange."""
    plan = _plan(spark, "q13_value_functions")
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_reach2_middle_cap_is_semi_join_and_broadcast_cap(spark):
    """q21_copurchase_reach2: the degree-cap discipline is physical —
    the middle filter rides as a LeftSemi hash join on the hop key, the
    1-row cap joins in as a broadcast (never a shuffle), and no
    cartesian product appears anywhere in the 2-hop expansion."""
    plan = _plan(spark, "q21_copurchase_reach2")
    assert "Join type: LeftSemi" in plan
    # the 1-row cap scalar attaches via broadcast (nested-loop on a
    # single row), never a shuffled join
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_corpus_never_shuffles_for_scoring(spark):
    """x03_ivfpq_topk: the probe tables broadcast into the list-id
    equi-join (corpus side stays un-shuffled through scoring), both
    codebooks ride as 1-row broadcasts, and no CartesianProduct exists
    (every Cross is a sanctioned 1-row BroadcastNestedLoopJoin)."""
    plan = _plan(spark, "x03_ivfpq_topk")
    assert "CartesianProduct" not in plan
    # the cid equi-join is the only non-Cross join and is broadcast
    assert "Join type: Inner" in plan
    assert "BroadcastHashJoin Inner" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_centroids_broadcast_pairs_equi_join(spark):
    """x02_semantic_dedup: the K-row centroid table broadcasts into the
    assignment scan; the candidate join is a real equi hash join on the
    cluster id (never a cartesian)."""
    plan = _plan(spark, "x02_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan  # K-row cents
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin Inner" in plan


def test_survival_km_single_fact_aggregate_bounded_windows(spark):
    """q21_survival_km: the fact table dies in ONE per-customer
    aggregate; the running KM windows operate on the calendar-bounded
    lifetime table (no join besides the 1-row clock broadcast)."""
    plan = _plan(spark, "q21_survival_km")
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan  # clock row
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_payload_energy_single_arrow_pass(spark):
    """x05_payload_energy: ONE Arrow/mapInPandas pass (r16 rework —
    the old higher-order-function fold was interpreted, not codegen'd,
    and measured 4.0 s vs 1.3 s at sf0.1; SCALE.md round 16). No
    BatchEvalPython (row-at-a-time) anywhere; the only Exchange is the
    documented ensure_min_parallelism round-robin, whose narrow-scan
    condition is false at production scale."""
    plan = _plan(spark, "x05_payload_energy")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    # exactly one exchange node (the round-robin), never a key shuffle
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning" not in plan


def test_cohort_ltv_single_fact_flow_broadcast_sizes(spark):
    """q21_cohort_ltv: the cohort map re-joins the fact on the same
    o_custkey layout; the cohort-size table rides in as a broadcast;
    no cartesian anywhere."""
    plan = _plan(spark, "q21_cohort_ltv")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_grouped_agg_pandas_single_exchange(spark):
    """q20_grouped_agg_pandas: both UDAFs share ONE AggregateInPandas
    node over one hash exchange on the group key."""
    plan = _plan(spark, "q20_grouped_agg_pandas")
    import re

    # Spark 4 names the GROUPED_AGG node ArrowAggregatePython; formatted
    # explain prints each node twice (tree + detail header), so count
    # the detail headers.
    assert len(re.findall(r"\(\d+\) ArrowAggregatePython", plan)) == 1
    assert plan.count("+- Exchange") == 1


def test_interval_overlap_is_equi_banded_no_theta_join(spark):
    """q11_interval_overlap: the candidate join is a hash-partitioned
    EQUI join on (day, band) — no nested-loop/theta formulation
    anywhere in the plan."""
    plan = _plan(spark, "q11_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin Inner" in plan


def test_hamming_topk_broadcasts_queries_corpus_never_shuffles(spark):
    """x03_hamming_topk: the 5 packed queries ride in as a broadcast
    (BNLJ on the != predicate); the corpus is scanned once — the only
    Exchange is the per-query window rank."""
    plan = _plan(spark, "x03_hamming_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_is_broadcast_and_topk_is_take_ordered(spark):
    """q07_cms_heavy_hitters: the d*w sketch joins candidates as a
    broadcast hash join, and the exact top-20 runs as distributed
    TakeOrderedAndProject — never an un-partitioned full-key window."""
    plan = _plan(spark, "q07_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hampel_single_user_exchange_no_joins(spark):
    """q22_hampel_mad: the whole operator rides ONE user_id hash
    exchange (shared-frame discipline of the z-score twin); the order
    statistics are array ops in codegen, never a join or second
    shuffle."""
    plan = _plan(spark, "q22_hampel_mad")
    assert "Join" not in plan
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    assert "hashpartitioning(user_id" in plan


def test_kcore_peel_semi_joins_no_cartesian(spark):
    """q21_kcore_peel: every peel round is a degree agg + two LeftSemi
    hash joins on the persisted shrinking edge list; no cartesian, no
    BNLJ, and the per-round edge list materializes exactly once."""
    plan = _plan(spark, "q21_kcore_peel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_aqe_splits_skewed_join_partition_at_runtime(spark):
    """AQE skew-join split — the runtime lever the docstrings cite as
    the alternative to manual salting (q10_join_salted_skew): a hot key
    whose partition exceeds the skew threshold is split into multiple
    tasks at runtime, visible as ``skew=true`` on the sort-merge join
    in the ADAPTIVE executed plan. Thresholds are forced tiny so the
    test corpus exhibits "skew" the way a 100 TB hot key would; the
    manual-salting op remains the answer where AQE can't see the skew
    (e.g. pre-aggregation explosions), which is why both exist."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16KB",
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        # Left: one hot key (0) carrying ~50k rows, a benign tail.
        left = spark.range(0, 50_000).select(
            F.when(F.col("id") < 49_000, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 100).select(
            (F.col("id") % 100).alias("k"),
            F.col("id").alias("dim_val"),
        )
        joined = left.join(right, "k")
        # collect() on THIS DataFrame: count() spawns its own
        # QueryExecution, leaving joined's plan isFinalPlan=false.
        assert len(joined.collect()) == 50_000  # every key matches once
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead" in plan  # the runtime re-plan artifact
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_histogram_quantiles_bounds_broadcast_hist_partial_aggs(spark):
    """q07_histogram_quantiles: the 1-row bounds broadcast into the
    binning scan (BNLJ, never a shuffle of the fact for the join); the
    histogram aggregate partial-combines (exchange carries bins, not
    values); no cartesian."""
    plan = _plan(spark, "q07_histogram_quantiles")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_hamming_rerank_candidates_broadcast_corpus_single_pass(spark):
    """x03_hamming_rerank: the |queries|*R candidate set (with query
    vectors) broadcasts into the float-corpus rerank scan — the corpus
    never shuffles in either stage; no cartesian, no SMJ."""
    plan = _plan(spark, "x03_hamming_rerank")
    assert "SortMergeJoin" not in plan  # recall join rides a broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_take_ordered_no_global_sort(spark):
    """x04_weighted_sample: priority is a map-side projection riding the
    scan; the top-N is distributed TakeOrderedAndProject, never a
    rangepartitioning global sort; no join anywhere."""
    plan = _plan(spark, "x04_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Join" not in plan


def test_bloom_prune_fact_never_shuffles(spark):
    """q10_bloom_prune: the fact side meets only broadcasts — the 1-row
    bloom map rides a BroadcastNestedLoopJoin, the exact FP-removal join
    a BroadcastHashJoin; the only shuffles are the final rollup plus the
    two constant-size aggs inside the bloom build."""
    plan = _plan(spark, "q10_bloom_prune")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin Cross" in plan
    assert "BroadcastHashJoin" in plan
    ex = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert ex == 3


def test_partitioned_prune_reaches_directory_metadata(spark):
    """q18_partitioned_prune: the day predicate must become a
    PartitionFilter (directory pruning at planning time), never a data
    filter over all days; the scan also prunes to the 3 read columns."""
    plan = _plan(spark, "q18_partitioned_prune")
    scan = plan[plan.index("PartitionFilters"):]
    assert "(ds" in scan[: scan.index("]")]
    assert " = 2024-01-15" in scan[: scan.index("]")]
    assert "struct<user_id:bigint,event_type:string,value:double>" in plan


def test_range_search_no_rank_no_shuffle(spark):
    """x03_range_search: set semantics need no per-query rank — no
    Window, no sort, no SMJ; the only Exchanges are the two
    ensure_min_parallelism round-robins (local-fixture widening that
    vanishes at scale), never a key shuffle of the corpus."""
    plan = _plan(spark, "x03_range_search")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    ex = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert ex <= 2


def test_adamic_adar_topn_is_take_ordered(spark):
    """q21_adamic_adar: the top-N must run as a distributed
    TakeOrderedAndProject, never a rangepartitioning global sort of
    the wedge aggregate."""
    plan = _plan(spark, "q21_adamic_adar")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_acf_hourly_single_fact_scan_no_smj(spark):
    """q22_acf_hourly: ONE event-sized aggregate total — the persisted
    absolute-hour roll-up — feeds bounds, spine fill, lag stats, and
    global moments (every fact reference is an InMemoryTableScan of the
    same relation: exactly one distinct parquet-scan node id). All
    joins are broadcast; no sort-merge, no cartesian product."""
    plan = _plan(spark, "q22_acf_hourly")
    tree = plan.split("\n\n")[0]
    assert "InMemoryTableScan" in tree
    import re

    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1, scan_ids
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_decompose_single_fact_scan_broadcast_seasonal(spark):
    """q22_seasonal_decompose: same single-fact-scan contract as the
    correlogram twin, plus the 24-row seasonal join must come back as a
    BroadcastHashJoin (never a shuffle of the calendar rows)."""
    plan = _plan(spark, "q22_seasonal_decompose")
    tree = plan.split("\n\n")[0]
    assert "InMemoryTableScan" in tree
    import re

    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1, scan_ids
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in tree


def test_adamic_adar_capped_cap_is_physical_input_prune(spark):
    """q21_adamic_adar_capped: the hub cap is a PHYSICAL guard on the
    wedge-join input — the 1-row p95 cap attaches via broadcast (never
    a shuffle), the deg >= 2 half of the center filter pushes below it,
    and the top-N stays a distributed TakeOrderedAndProject with no
    cartesian anywhere."""
    import re

    plan = _plan(spark, "q21_adamic_adar_capped")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan
    assert re.search(r"deg#\d+L? >= 2", plan)


def test_s09_session_replay_single_exchange(spark):
    """s09_session_gap_replay: one hash exchange on user_id into the
    Arrow-batched FlatMapGroupsInPandas; the NULL-ts drop pushes to the
    parquet scan."""
    plan = _plan(spark, "s09_session_gap_replay")
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(user_id" in plan
    ex = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert ex == 1
    assert "IsNotNull(ts)" in plan  # pushed to the scan


def test_x00_audit_slice_filters_push_to_scans(spark):
    """x00_adversarial_audit: the fixed-size slice is a SCAN property —
    both the event_id and vec_id bounds reach the parquet readers as
    pushed filters, the 1-row query vector rides a broadcast, and no
    real cartesian appears (the 32x1 pairing is the sanctioned 1-row
    BroadcastNestedLoopJoin shape)."""
    plan = _plan(spark, "x00_adversarial_audit")
    assert "CartesianProduct" not in plan
    assert "LessThanOrEqual(event_id,256)" in plan
    assert "LessThan(vec_id,32)" in plan
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan


# ---- bounded-window discipline (r09 verdict item 5) ----------------
# ORDER BY without PARTITION BY is only legitimate over provably
# bounded relations (calendar spines, <=256-bin histograms, degree
# histograms, block-prefix aggregates). tools/audit_plans.py enforces
# this across EVERY entry per round; these tests pin the checker's
# verdicts so a future entry that global-sorts a data-sized scan goes
# red in pytest too.

def _window_checker():
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        pathlib.Path(__file__).resolve().parent.parent
        / "tools"
        / "audit_plans.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.unbounded_global_windows


def test_unbounded_window_checker_flags_global_sort_of_events(spark):
    from pyspark.sql import Window, functions as F

    check = _window_checker()
    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    bad = ev.select(
        "event_id", F.row_number().over(Window.orderBy("ts")).alias("rn")
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        bad._jdf.queryExecution(), "formatted"
    )
    assert check(plan), "checker must flag ORDER BY w/o PARTITION BY"

    # partitioned, unordered-frame, and aggregate-bounded windows pass
    for good in (
        ev.select(
            "event_id",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts"))
            .alias("rn"),
        ),
        ev.select(
            "event_id",
            F.sum("value")
            .over(Window.partitionBy("event_type"))
            .alias("s"),
        ),
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            F.rank().over(Window.orderBy("n")).alias("r"),
        ),
    ):
        plan = spark._jvm.PythonSQLUtils.explainString(
            good._jdf.queryExecution(), "formatted"
        )
        assert check(plan) == [], plan[:500]


def test_window_heavy_entries_have_no_unbounded_global_window(spark):
    """Representative sweep of the entries the round-9/10 audits found
    interesting: the rewritten s04 two-phase watermark scan, the
    partitioned-but-unordered q07 forms the checker must NOT flag, and
    the window batteries. The full 207-entry sweep runs in
    tools/audit_plans.py each round."""
    check = _window_checker()
    for name in (
        "s04_watermark_late_drop",
        "q07_weighted_median",
        "q07_winsorized_stats",
        "q13_window_share",
        "q19_cdc_apply",
        "q13_rank_dense_rank",
        "q22_rolling_zscore",
        "q21_sessionize_gap",
    ):
        assert check(_plan(spark, name)) == [], name


def test_plan_parsers_keep_annotated_and_cached_nodes(spark):
    """The window checker parses a plan with persisted branches:
    InMemoryTableScan lines carry a trailing
    "(columnarIn=..., columnarOut=...)" annotation after the node id,
    and persisted branches inline an InMemoryRelation subtree —
    x02_minhash_lsh_neardup exhibits both (it persists its candidate
    intermediates at build time)."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        pathlib.Path(__file__).resolve().parent.parent
        / "tools"
        / "audit_plans.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    plan = _plan(spark, "x02_minhash_lsh_neardup")
    assert "+- InMemoryTableScan" in plan, (
        "expected persisted branches in this plan"
    )
    assert mod.unbounded_global_windows(plan) == []
    spark.catalog.clearCache()


def test_s09_replay_pair_plan_contracts(spark):
    """Both S9 replays: the NULL-ts filter reaches the parquet reader
    as a pushed filter, the md5 sample evaluates pre-exchange (7/8 of
    rows never shuffle), and the whole fold is ONE user_id hash
    exchange into Arrow-batched groups (FlatMapGroupsInPandas)."""
    for name in ("s09_session_gap_replay", "s09_session_timeout_replay"):
        plan = _plan(spark, name)
        assert "PushedFilters: [IsNotNull(ts)]" in plan, name
        assert "FlatMapGroupsInPandas" in plan, name
        assert plan.count("hashpartitioning(user_id") >= 1, name
        # exactly one data Exchange node in the tree header
        import re

        tree = plan.split("\n\n")[0]
        assert len(re.findall(r"Exchange \(\d+\)", tree)) == 1, name
        # the sample predicate (md5 conv) sits in a Filter, not Python
        assert "md5" in plan and "conv" in plan, name


def test_simhash16_plan_contracts(spark):
    """16-bit SimHash: no cartesian anywhere, the popcount Hamming
    pre-filter guards the band join's output, and probe masks ride as
    exploded literal arrays (Generate), never |masks| separate
    expressions."""
    plan = _plan(spark, "x02_simhash16_neardup")
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan
    assert "Generate" in plan and "explode" in plan
    spark.catalog.clearCache()


#: Entries whose windows all take the event-order contract's per-user
#: order (``tables._user_order``).
USER_ORDER_ENTRIES = [
    "pipeline_events_monitor",
    "q11_asof_join",
    "q11_asof_tolerance",
    "q13_lag_lead",
    "q13_running_frames",
    "q13_value_functions",
    "q19_scd2_history",
    "q21_attribution_last_touch",
    "q21_event_transitions",
    "q21_sessionize_gap",
    "q22_cusum_drift",
    "q22_ewma_window",
    "q22_hampel_mad",
    "q22_rolling_zscore",
]


@pytest.mark.parametrize("name", USER_ORDER_ENTRIES)
def test_user_order_windows_share_one_sort(spark, name):
    """Every window of the entry shares ONE sort, in contract order: a
    helper that stopped handing out the same spec would add a sort."""
    plan = _plan(spark, name)
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\bSort \(\d+\)", tree)) == 1, tree
    (args,) = re.findall(r"\(\d+\) Sort\n.*\nArguments: \[([^]]*)\]", plan)
    keys = [k.split("#")[0] for k in args.split(", ")]
    assert keys[-2:] == ["ts", "event_id"], args
