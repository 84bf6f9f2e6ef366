"""The plans around functions/ordered.py: q_ml_auc's one total-order
window runs over the distinct-score table, never over fact rows, and
the order-statistic family (grouped_order_stats) reproduces the
element_at(array_sort(collect_list(v)), k) idiom it replaced, all-NULL
groups included."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ml_auc_never_sorts_fact_rows(registry_plans):
    """The round-7 q_ml_auc rewrite: facts collapse onto the distinct-
    score table BEFORE any ordered window — the plan must show the
    events scan feeding a hash aggregate, a single running-sum window
    (no rank/tie-count pair), and no window directly over the scan."""
    plan = registry_plans["q_ml_auc"].plan
    assert "rank(" not in plan, plan
    assert plan.count("Window [") == 1, plan
    # the window's input is the aggregated score table: a partial_count
    # must appear BELOW (after, in toString order) the window node
    w_pos = plan.index("Window [")
    assert "partial_count" in plan[w_pos:], plan


def test_grouped_order_stats_matches_sorted_index(spark):
    """grouped_order_stats must reproduce the
    element_at(array_sort(collect_list(v)), k) idiom exactly: rank k
    computed from the TOTAL row count (NULLs included), selection over
    the NULL-free sorted values, NULL when k overruns them."""
    import random

    from news_categorization_big_data_spark.functions.ordered import (
        grouped_order_stats,
    )

    rng = random.Random(7)
    rows = []
    for g in ("a", "b", "c"):
        for _ in range(rng.randrange(50, 150)):
            v = None if rng.random() < 0.2 else round(rng.uniform(0, 10), 2)
            rows.append((g, v))
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    k_med = ((F.col("_n_tot") - 1) / 2 + 1).cast("int")
    k_p95 = (((F.col("_n_tot") - 1) * 950) / 1000).cast("int") + 1
    got = {
        r.g: (r.med, r.p95)
        for r in grouped_order_stats(
            df, ["g"], F.col("v"), {"med": k_med, "p95": k_p95}
        ).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        n = len(vs)
        nn = sorted(x for x in vs if x is not None)
        want_med = nn[int((n - 1) / 2 + 1) - 1] if int((n - 1) / 2 + 1) <= len(nn) else None
        k95 = int((n - 1) * 950 / 1000) + 1
        want_p95 = nn[k95 - 1] if k95 <= len(nn) else None
        assert got[g] == (want_med, want_p95), (g, got[g], want_med, want_p95)


def test_grouped_order_stats_keeps_all_null_groups(spark):
    """A group whose values are ALL NULL must still surface, with NULL
    order stats — the element_at(array_sort(collect_list(v)), k) idiom
    this helper replaced emitted it (ADVICE round 7: an inner join on
    the non-null value domain silently dropped the group)."""
    from news_categorization_big_data_spark.functions.ordered import (
        grouped_order_stats,
    )

    rows = [("a", 1.0), ("a", 3.0), ("nulls", None), ("nulls", None)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    k_med = ((F.col("_n_tot") - 1) / 2 + 1).cast("int")
    got = {
        r.g: r.med
        for r in grouped_order_stats(
            df, ["g"], F.col("v"), {"med": k_med}
        ).collect()
    }
    assert got == {"a": 1.0, "nulls": None}
