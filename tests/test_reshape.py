"""Reshape-tier behavior tests (oracle parity itself is covered by the
parametrized tests/test_oracle_parity.py)."""

from __future__ import annotations

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.reshape import EVENT_TYPES
from tests.conftest import exchange_counts


def test_pivot_unpivot_roundtrip(spark, sf_dir):
    """Unpivoting the pivoted counts restores the plain groupBy counts,
    plus explicit zeros for absent (user, type) combos."""
    long_rows = REGISTRY["q_unpivot_long"].builder(spark, sf_dir).collect()
    observed = {
        (r["user_id"], r["event_type"]): r["n"] for r in long_rows if r["n"] > 0
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    truth = {
        (r["user_id"], r["event_type"]): r["count"]
        for r in ev.groupBy("user_id", "event_type").count().collect()
    }
    assert observed == truth
    users = {r["user_id"] for r in long_rows}
    assert len(long_rows) == len(users) * len(EVENT_TYPES)


def test_reshape_and_packing_plan_shapes(registry_plans):
    """Physical-plan guarantees the docstrings promise: pivot is one
    aggregate with no value-discovery pass, pack_sequences shuffles
    exactly once (the per-shard window), gap_fill never degenerates to
    a nested-loop/cartesian join."""

    pack = registry_plans["q_pack_sequences"].plan
    assert exchange_counts(pack) == {
        "hashpartitioning(shard)/ENSURE_REQUIREMENTS": 1
    }, pack
    gap = registry_plans["q_gap_fill"].plan
    assert "CartesianProduct" not in gap and "BroadcastNestedLoopJoin" not in gap, gap
    piv = registry_plans["q_pivot_wide"].plan
    assert "Join" not in piv, piv  # explicit value list → no discovery join


def test_gap_fill_exercises_gaps_and_carries_forward(spark, sf_dir):
    rows = REGISTRY["q_gap_fill"].builder(spark, sf_dir).collect()
    gaps = [r for r in rows if r["was_gap"]]
    assert gaps, "bin width too coarse: no gaps left to fill"
    assert all(g["n_events"] == 0 for g in gaps)
    # LOCF: a gap bin's carried sum equals the nearest earlier real bin's.
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["bin"])
        last_real = 0.0
        for r in series:
            if r["was_gap"]:
                assert r["sum_value_ff"] == last_real
            else:
                last_real = r["sum_value_ff"]
