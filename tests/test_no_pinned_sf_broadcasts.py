"""No query may PIN a broadcast of a frame that scales with the corpus.

An explicit ``F.broadcast`` hint is honored unconditionally — past the
8 GB broadcast hard limit it fails the job instead of re-planning, the
class round 12 measured as a real OOM on the skew fixture
(q_dedup_containment) and round 13 purged from the join/TPC-H tier.

The pin is mechanical: building each plan with
``spark.sql.autoBroadcastJoinThreshold = -1`` (and its AQE twin)
disables every ESTIMATE-driven broadcast, so any BroadcastExchange left
in the plan is hint-driven. tools/broadcast_audit.py's hints-mode walk
(``audit_plan(plan, hints_mode=True)``) then asserts none of those
surviving hints sits directly over an SF-scaling table scan — only
SF-constant nation/region scans, explicit limits and aggregates keyed
on schema-bounded columns (``agg_keys_bounded``) may stay pinned.
q_join_broadcast is excluded here: it demonstrates the size-GATED hint
(functions/scale.py broadcast_if_small) and has its own gate tests
below."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.scale import broadcast_if_small
from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts, physical_plan
from tools.broadcast_audit import audit_plan

#: The round-13 purge set: the 14 TPC-H queries plus the two join
#: operators that previously pinned customer/supplier/part broadcasts
#: (q_join_theta_range additionally traded its broadcast-nested-loop
#: for a banded equi-join).
PURGED = [
    "q_tpch_q2",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_join_inner_equi",
    "q_join_theta_range",
]


def _no_estimate_broadcast_plan(spark, name_or_df, sf_dir=None) -> str:
    """Build the physical plan with every estimate-driven broadcast
    disabled, so surviving BroadcastExchanges are hint-driven only."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = (
            REGISTRY[name_or_df].builder(spark, sf_dir)
            if isinstance(name_or_df, str)
            else name_or_df
        )
        return physical_plan(df)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", PURGED)
def test_no_hint_pinned_broadcast_of_sf_scaling_frame(spark, sf_dir, name):
    plan = _no_estimate_broadcast_plan(spark, name, sf_dir)
    flagged = audit_plan(plan, hints_mode=True)
    assert not flagged, f"{name} pins a broadcast over an SF-scaling scan:\n" + "\n".join(
        flagged
    ) + "\n\n" + plan


def test_theta_range_is_banded_equi_join_not_bnl(registry_plans):
    """The range join must run as a hash/sort-merge equi-join on the
    price band, never a nested-loop over a replicated supplier side."""
    plan = registry_plans["q_join_theta_range"].plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_broadcast_if_small_hints_under_gate(spark, sf_dir):
    """At test SF the filtered part dim is tiny → the gate applies the
    hint, and it survives even with estimate broadcasts disabled."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") < 15)
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(broadcast_if_small(part), li.l_partkey == part.p_partkey)
    plan = _no_estimate_broadcast_plan(spark, joined)
    assert exchange_counts(plan) == {"broadcast": 1}, plan


def test_broadcast_if_small_refuses_over_gate(spark, sf_dir):
    """With the gate forced to zero bytes the SAME frame comes back
    un-hinted — the planner (here with estimates disabled) gets no
    broadcast to honor. This is the at-scale behavior: a corpus-grown
    dimension falls through to AQE instead of the 8 GB wall."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") < 15)
    li = load_table(spark, sf_dir, "lineitem")
    gated = broadcast_if_small(part, max_bytes=0)
    joined = li.join(gated, li.l_partkey == part.p_partkey)
    plan = _no_estimate_broadcast_plan(spark, joined)
    assert exchange_counts(plan) == {
        "hashpartitioning(l_partkey)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(p_partkey)/ENSURE_REQUIREMENTS": 1,
    }, plan


#: q18's shuffles with estimate broadcasts disabled, whether or not its
#: gated hint applies.
_Q18_SHUFFLES = Counter(
    {
        "hashpartitioning(c_custkey)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(o_custkey)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(o_orderkey)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(l_orderkey)/ENSURE_REQUIREMENTS": 2,
    }
)


def test_q18_strict_walker_flags_ungated_agg_broadcast(spark, sf_dir):
    """The round-13 audit blind spot, pinned: a PINNED broadcast above
    a KEYED aggregate over a fact scan (q18's qualifying-orderkey set,
    ~1.5% of orders, linear in SF) must be FLAGGED by the strict walk —
    the old HashAggregate exemption waved it through. At test SF the
    gate applies the hint, so the raw plan exhibits exactly that shape;
    the walker must see it."""
    plan = _no_estimate_broadcast_plan(spark, "q_tpch_q18", sf_dir)
    if not exchange_counts(plan)["broadcast"]:
        pytest.skip("gate refused at this fixture size — shape absent")
    flagged = audit_plan(plan, hints_mode=True)
    assert flagged, "strict walker failed to flag the q18 keyed-agg broadcast:\n" + plan


def test_q18_broadcast_gated_not_pinned(spark, sf_dir, monkeypatch):
    """q18's hint is broadcast_if_small, not F.broadcast: forcing the
    gate to 0 bytes (the at-100-TB outcome, where lineitem dwarfs any
    gate) must yield a plan with NO hint-driven broadcast at all — the
    semi-join falls through to AQE's measured-size decision."""
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_GATE_BYTES", "0")
    plan = _no_estimate_broadcast_plan(spark, "q_tpch_q18", sf_dir)
    flagged = audit_plan(plan, hints_mode=True)
    assert not flagged, "gate=0 still pins a broadcast:\n" + "\n".join(flagged)
    assert exchange_counts(plan) == _Q18_SHUFFLES, plan


def test_q18_broadcast_applied_under_gate(spark, sf_dir):
    """At bench scale the gate keeps the small-SF broadcast win: the
    measured lineitem input is far under 256 MB, so the hint applies."""
    plan = _no_estimate_broadcast_plan(spark, "q_tpch_q18", sf_dir)
    assert exchange_counts(plan) == _Q18_SHUFFLES + Counter(broadcast=1), plan


def test_broadcast_if_small_unknown_lineage_unhinted(spark):
    """A frame with no stat-able input files (in-memory range) must
    come back un-hinted: when the gate cannot measure, it never pins."""
    df = spark.range(10)
    assert broadcast_if_small(df) is df
