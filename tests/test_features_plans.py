"""Physical-plan assertions for the feature-engineering tier — pins the
scale claims each docstring makes (single-pass moments, windows riding
aggregates not raw rows, broadcast corpus stats, top-k via
TakeOrderedAndProject) so a careless refactor fails fast."""

from __future__ import annotations

from news_categorization_big_data_spark.plans.features import BFS_HOPS
from tests.conftest import exchange_counts


def test_corr_matrix_is_one_aggregate_pass(registry_plans):
    """All 15 moments from a single partial+final aggregate — the whole
    point of the query is one scan, not one corr() scan per pair."""
    plan = registry_plans["q_corr_matrix"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {"SinglePartition/ENSURE_REQUIREMENTS": 1}, plan


def test_salted_agg_is_two_phase_no_join(registry_plans):
    """Exactly two shuffles: the (key, salt) partial and the final
    merge — and nothing else."""
    plan = registry_plans["q_salted_agg"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(event_type, salt)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(event_type)/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_benford_window_rides_digit_aggregate(registry_plans):
    """One shuffle for the 9-digit aggregate, one single-partition
    exchange for the total window over those 9 rows — the raw orders
    are never windowed."""
    plan = registry_plans["q_benford_digits"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(digit)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan
    assert "Window" in plan, plan


def test_target_encode_windows_ride_cell_table(registry_plans):
    """The only row-count-sized shuffle is the (category, fold) cell
    aggregate; every window runs on the cell table."""
    plan = registry_plans["q_target_encode"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(category, fold)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_alloc_budget_windows_ride_stratum_table(registry_plans):
    plan = registry_plans["q_alloc_budget"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(c_nationkey)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_lift_bands_no_join_aggregates_before_windows(registry_plans):
    plan = registry_plans["q_lift_bands"].plan
    assert "Join" not in plan, plan
    # the distinct-score agg and its global window; the band agg and
    # band window run inside that single partition
    assert exchange_counts(plan) == {
        "hashpartitioning(score)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_tfidf_pairs_broadcast_stats_and_topk(registry_plans):
    plan = registry_plans["q_tfidf_pairs"].plan
    # the 1-row corpus count reaches every posting via broadcast
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # top-k pairs never global-sort: TakeOrderedAndProject
    assert "TakeOrderedAndProject" in plan, plan


def test_graph_bfs_unrolls_min_regroups_no_cartesian(registry_plans):
    plan = registry_plans["q_graph_bfs"].plan
    assert "CartesianProduct" not in plan, plan
    # one min-hop regroup per unrolled round survives in the plan
    assert plan.count("partial_min") >= BFS_HOPS, plan


def test_attrib_channel_one_window_node(registry_plans):
    """The doc's claim, enforceable: both IGNORE-NULLS carries share one
    collapsed Window node over one user-keyed sort — a second sort or
    window would mean the carries could diverge."""
    plan = registry_plans["q_attrib_channel"].plan
    assert "Join" not in plan, plan
    assert plan.count("Window [") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(channel)/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_rrf_fusion_postings_bounded_topk(registry_plans):
    plan = registry_plans["q_rrf_fusion"].plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan  # dims/stats all broadcast
    assert "TakeOrderedAndProject" in plan, plan


def test_checksum_single_scan_no_join(registry_plans):
    plan = registry_plans["q_table_checksum"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {  # distinct-agg two-phase
        "hashpartitioning(c_custkey)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_k_anonymity_two_level_agg(registry_plans):
    plan = registry_plans["q_k_anonymity"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {  # QI groups + 1-row summary
        "hashpartitioning(c_nationkey, c_mktsegment)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_peak_concurrency_no_interval_self_join(registry_plans):
    plan = registry_plans["q_peak_concurrency"].plan
    assert "Join" not in plan, plan


def test_rolling_corr_day_grain_plan_shape(registry_plans):
    """The round-7 exact-moment rewrite: day-grain aggregate, one
    min-centering window pass, frame membership exploded into a
    BROADCAST equi-join of day-grain contributions (the join rides the
    tiny day table, never facts), int64-limb partial sums. Pins: the
    join is broadcast (never a shuffle join over exploded frames), no
    cartesian, and the raw event table is scanned exactly once."""
    plan = registry_plans["q_rolling_corr"].plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    # the day-grain series is localCheckpointed once and BOTH join
    # sides read the materialized table — the fact scan never doubles
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert plan.count("FileScan parquet") == 0, plan


def test_rfm_and_ann_recall_never_cartesian(registry_plans):
    for name in ("q_rfm_segments", "q_ann_recall"):
        plan = registry_plans[name].plan
        assert "CartesianProduct" not in plan, (name, plan)
