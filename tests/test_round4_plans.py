"""Physical-plan assertions for the round-4 query batch — the same
make-the-scale-claims-auditable pattern as tests/test_tpch.py: each
query's docstring promises a plan shape (broadcast dims, single
shuffle, no raw-event windows); these tests pin it so a regression in
Catalyst usage (or a careless refactor) fails fast and visibly."""

from __future__ import annotations

from tests.conftest import exchange_counts


def test_rollup_broadcasts_both_dims(registry_plans):
    plan = registry_plans["q_rollup"].plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Expand" in plan, plan  # rollup grouping sets are map-side


def test_argmax_join_single_shuffle_plus_broadcast(registry_plans):
    plan = registry_plans["q_argmax_join"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # no ranked window, no join-back: the aggregate IS the argmax
    assert "Window" not in plan, plan


def test_percent_change_window_runs_on_aggregate(registry_plans):
    """The lag window must consume the month-level aggregate, never raw
    orders: exactly one pre-window shuffle for the groupBy, and the
    window sort keyed by the agg output."""
    plan = registry_plans["q_percent_change"].plan
    assert "Window" in plan, plan
    agg_pos = plan.index("HashAggregate")
    win_pos = plan.index("Window")
    assert win_pos < agg_pos or "month" in plan[win_pos : win_pos + 400], plan


def test_heavy_hitters_total_is_broadcast(registry_plans):
    plan = registry_plans["q_heavy_hitters"].plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row total side
    assert "SortMergeJoin" not in plan, plan


def test_grouped_regression_is_one_aggregate(registry_plans):
    """All five moment sums must come from a single partial+final
    aggregate — no joins, no second scan."""
    plan = registry_plans["q_grouped_regression"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(p_brand)/ENSURE_REQUIREMENTS": 1
    }, plan


def test_group_entropy_is_join_free_closed_form(registry_plans):
    """Since the round-12 null-fix (e43f0a3) the log2 comes from the
    UNBOUNDED det_log2_sql closed form (functions/exact.py) — a pure
    column expression built on length(bin(n)) — so the plan must have
    ZERO joins: no broadcast LUT, no sort-merge, nothing that caps the
    count domain the way the old 1024-row lookup did."""
    plan = registry_plans["q_group_entropy"].plan
    assert "Join" not in plan, plan
    assert "bin(" in plan, plan  # the det_log2_sql exponent chain


def test_hhi_totals_broadcast_back(registry_plans):
    plan = registry_plans["q_hhi_concentration"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_grouped_moments_two_pass_broadcast_stats(registry_plans):
    plan = registry_plans["q_grouped_moments"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bitmap_distinct_no_expand_no_raw_distinct(registry_plans):
    """The bitmap path must NOT fall back to Spark's COUNT(DISTINCT)
    Expand plan: two hash aggregates (bucket + rollup), no Expand."""
    plan = registry_plans["q_bitmap_distinct"].plan
    assert "Expand" not in plan, plan
    assert "bitmap_construct_agg" in plan or "bitmap" in plan.lower(), plan


def test_containment_caps_index_side(registry_plans):
    """The containment candidate join must be equi (on the shingle
    hash), never a cartesian/theta all-pairs."""
    plan = registry_plans["q_dedup_containment"].plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_jaccard_positional_filter_in_plan(registry_plans):
    """The PPJoin positional filter must prune BEFORE the distinct that
    feeds the verify join: the candidate filter references the prefix
    positions (struct field p) in a comparison."""
    plan = registry_plans["q_dedup_ngram_jaccard"].plan
    assert "CartesianProduct" not in plan, plan
    # posexplode carries the position column through the bucket structs
    assert "pos" in plan or ".p" in plan, plan
