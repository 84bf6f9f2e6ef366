"""TPC-H macro-query plan audits: the physical plans must carry the
shapes the docstrings promise at 100 TB — value parity itself is covered
by the parametrized tests/test_oracle_parity.py."""

from __future__ import annotations


def test_q1_is_scan_plus_agg_no_join(registry_plans):
    plan = registry_plans["q_tpch_q1"].plan
    assert "Join" not in plan, plan
    # partial+final hash aggregation, and the date filter pushed to the scan
    assert "HashAggregate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_q3_broadcasts_customer_side(registry_plans):
    plan = registry_plans["q_tpch_q3"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # top-k without a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_q6_pushes_all_scan_filters(registry_plans):
    plan = registry_plans["q_tpch_q6"].plan
    assert "Join" not in plan, plan
    # Filters reach the scan (the toString form TRUNCATES the pushed
    # list, so assert the head of it) and column pruning holds: the
    # scan reads exactly the four referenced columns.
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan, plan
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp" in plan
    ), plan


def test_sql_correlated_plans_semi_and_anti_joins(registry_plans):
    plan = registry_plans["q_sql_correlated"].plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q5_broadcasts_dimensions_no_cartesian(registry_plans):
    plan = registry_plans["q_tpch_q5"].plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # both order-date bounds reach the parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan and "LessThan(o_orderdate" in plan, plan
