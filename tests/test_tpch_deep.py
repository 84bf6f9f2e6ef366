"""Plan audits for the second TPC-H installment (plans/tpch_deep.py):
each query's physical plan must carry the 100-TB shape its docstring
promises — dimensions broadcast, envelope predicates pushed to the
scans, anti/outer join semantics in the plan, no cartesian products.
Value parity is covered by the parametrized tests/test_oracle_parity.py."""

from __future__ import annotations


def test_q7_broadcasts_nations_and_supplier(registry_plans):
    plan = registry_plans["q_tpch_q7"].plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # both shipdate envelope bounds reach the fact scan
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan, plan
    # the two-value nation pre-filter reaches the dimension scan
    assert "In(n_name" in plan, plan


def test_q8_eight_relations_fact_never_shuffled_on_join_key(registry_plans):
    plan = registry_plans["q_tpch_q8"].plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the selective part filter is pushed into the part scan
    assert "EqualTo(p_type,ECONOMY)" in plan, plan


def test_q13_outer_join_preserves_zero_order_customers(registry_plans):
    plan = registry_plans["q_tpch_q13"].plan
    # the priority exclusion must ride in the JOIN condition: the plan
    # keeps LeftOuter (a WHERE would have let Catalyst rewrite it inner)
    assert "LeftOuter" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # two aggs, partial+final each


def test_q14_single_pass_no_keyed_shuffle(registry_plans):
    plan = registry_plans["q_tpch_q14"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # global aggregate: the only exchange is the single-partition final
    assert "hashpartitioning" not in plan, plan


def test_q15_argmax_compares_decimals_via_broadcast(registry_plans):
    plan = registry_plans["q_tpch_q15"].plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_q17_part_filter_prunes_before_per_part_aggregate(registry_plans):
    plan = registry_plans["q_tpch_q17"].plan
    # both part-filter probes broadcast from measured file stats (no
    # pinned hint since round 13 — part scales with SF)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the li_f ⋈ pq join may plan as sort-merge STATICALLY: without CBO
    # an aggregate's size estimate inherits its child's, so the planner
    # can't see that pq is part-cardinality — AQE converts it to a
    # broadcast join at runtime from the measured shuffle size, which
    # is the correct self-sizing behavior at every SF. Only all-pairs
    # shapes are forbidden.
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # brand+size filters reach the part scan
    assert "EqualTo(p_brand,Brand#1)" in plan, plan
    assert "LessThanOrEqual(p_size,10)" in plan, plan


def test_q19_envelope_predicates_reach_both_scans(registry_plans):
    plan = registry_plans["q_tpch_q19"].plan
    assert "BroadcastHashJoin" in plan, plan
    # the union envelope of the disjunction is pushed to each side's scan
    assert "In(p_brand" in plan, plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan
    assert "LessThanOrEqual(l_quantity,40.0)" in plan, plan


def test_q22_anti_join_and_one_row_threshold_broadcast(registry_plans):
    plan = registry_plans["q_tpch_q22"].plan
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan or "LeftAnti" in plan, plan
