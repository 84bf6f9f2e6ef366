"""Semantic property + plan-shape tests for the quality/experiment tier
(plans/quality.py). Oracle parity is covered by test_oracle_parity.py;
these pin the promises the docstrings make: check semantics against
brute force, equi-depth balance, Welch statistics vs a Python
recomputation, EWMA vs an exact-Fraction recursion, and the
single-shuffle aggregate shapes."""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.quality import (
    EQUIDEPTH_BUCKETS,
    EWMA_HORIZON,
    EWMA_NORM,
    FK_RELATIONS,
)
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts


# -- q_dq_checks ------------------------------------------------------------


def test_dq_checks_all_pass_on_clean_testdata(spark, sf_dir):
    rows = {r.check_name: r for r in REGISTRY["q_dq_checks"].builder(spark, sf_dir).collect()}
    assert set(rows) == {
        "row_count",
        "completeness_custkey",
        "uniqueness_orderkey",
        "domain_orderstatus",
        "min_totalprice_positive",
        "referential_custkey",
    }
    # the driver testdata is clean: every expectation holds
    assert all(r.passed for r in rows.values()), rows
    for ratio in ("completeness_custkey", "uniqueness_orderkey",
                  "domain_orderstatus", "referential_custkey"):
        assert rows[ratio].metric == 1.0
    assert rows["row_count"].metric > 0
    assert rows["min_totalprice_positive"].metric > 0


def test_dq_checks_detects_injected_violations(spark, sf_dir):
    """The same check expressions must actually FAIL on dirty data —
    a suite that can't go red is not a check. Run the metric exprs
    over a corrupted in-memory orders table."""
    orders = load_table(spark, sf_dir, "orders")
    dirty = orders.unionAll(
        orders.limit(5).select(  # duplicate keys, null custkey, bad status
            "o_orderkey",
            F.lit(None).cast("long").alias("o_custkey"),
            F.lit("X").alias("o_orderstatus"),
            F.lit(-1.0).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
    )
    a = dirty.agg(
        F.count("*").alias("n"),
        F.count("o_custkey").alias("n_ck"),
        F.countDistinct("o_orderkey").alias("n_uk"),
        F.count(F.when(F.col("o_orderstatus").isin("F", "O", "P"), 1)).alias("n_dom"),
        F.min("o_totalprice").alias("min_price"),
    ).collect()[0]
    assert a.n_ck < a.n  # completeness violated
    assert a.n_uk < a.n  # uniqueness violated
    assert a.n_dom < a.n  # domain violated
    assert a.min_price < 0  # range violated


# -- q_orphan_refs ----------------------------------------------------------


def test_orphan_refs_counts_and_clean_integrity(spark, sf_dir):
    rows = {r.fk: r for r in REGISTRY["q_orphan_refs"].builder(spark, sf_dir).collect()}
    assert set(rows) == {label for label, *_ in FK_RELATIONS}
    for label, child, *_ in FK_RELATIONS:
        expected = load_table(spark, sf_dir, child).count()
        assert rows[label].n_child == expected, label
        assert rows[label].n_orphans == 0, label  # testdata is referentially clean


def test_orphan_refs_detects_missing_parents(spark, sf_dir):
    """Same join shape, parent side truncated: orphans must surface."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    half = cust.where(F.col("c_custkey") % 2 == 0)
    got = (
        orders.join(half, orders.o_custkey == half.c_custkey, "left")
        .agg(F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_orphans"))
        .collect()[0]
        .n_orphans
    )
    brute = orders.where(F.col("o_custkey") % 2 == 1).count()
    assert got == brute > 0


# -- q_ab_ttest -------------------------------------------------------------


def test_ab_ttest_matches_python_welch(spark, sf_dir):
    """Recompute Welch's t and the Satterthwaite df in plain Python
    floats from the raw values; the engine must agree to float noise."""
    out = {r.event_type: r for r in REGISTRY["q_ab_ttest"].builder(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "value").collect()
    by_type: dict[str, tuple[list[float], list[float]]] = {}
    for r in ev:
        arms = by_type.setdefault(r.event_type, ([], []))
        arms[r.user_id % 2].append(r.value)
    assert set(out) == set(by_type)
    for t, (a, b) in by_type.items():
        na, nb = len(a), len(b)
        ma, mb = sum(a) / na, sum(b) / nb
        va = sum((x - ma) ** 2 for x in a) / (na - 1)
        vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
        van, vbn = va / na, vb / nb
        t_stat = (ma - mb) / math.sqrt(van + vbn)
        df = (van + vbn) ** 2 / (van**2 / (na - 1) + vbn**2 / (nb - 1))
        row = out[t]
        assert row.n_a == na and row.n_b == nb
        assert math.isclose(row.t_stat, t_stat, rel_tol=1e-7), t
        assert math.isclose(row.df_welch, df, rel_tol=1e-7), t
        # Welch df is bounded by min(na,nb)-1 and na+nb-2
        assert min(na, nb) - 1 <= row.df_welch <= na + nb - 2


def test_ab_ttest_single_shuffle(registry_plans):
    plan = registry_plans["q_ab_ttest"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(event_type)/ENSURE_REQUIREMENTS": 1
    }, plan


# -- q_equidepth_histogram --------------------------------------------------


def test_equidepth_buckets_balanced_and_ordered(spark, sf_dir):
    rows = REGISTRY["q_equidepth_histogram"].builder(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    ev = load_table(spark, sf_dir, "events")
    totals = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    for t, bs in by_type.items():
        bs.sort(key=lambda r: r.bucket)
        assert [b.bucket for b in bs] == list(range(1, EQUIDEPTH_BUCKETS + 1))
        counts = [b.n_rows for b in bs]
        assert sum(counts) == totals[t]
        assert max(counts) - min(counts) <= 1  # the equi-depth property
        for prev, nxt in zip(bs, bs[1:]):
            assert prev.lo <= prev.hi
            assert prev.hi <= nxt.lo  # buckets ordered, overlap only at ties


# -- q_ewma_smooth ----------------------------------------------------------


def test_ewma_matches_exact_fraction_recursion(spark, sf_dir):
    """Recompute the truncated EWMA with exact Fractions from the daily
    sums (calendar-day decay, missing days = 0) and compare."""
    out = {(r.event_type, r.day): r.ewma for r in REGISTRY["q_ewma_smooth"].builder(spark, sf_dir).collect()}
    daily_rows = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(20,2)")).alias("v"))
        .collect()
    )
    daily: dict[str, dict] = {}
    for r in daily_rows:
        daily.setdefault(r.event_type, {})[r.d] = Fraction(r.v)
    import datetime

    assert out
    for (t, day), got in out.items():
        d = datetime.date.fromisoformat(day)
        series = daily[t]
        num = sum(
            series.get(d - datetime.timedelta(days=k), Fraction(0))
            * (1 << (EWMA_HORIZON - 1 - k))
            for k in range(EWMA_HORIZON)
        )
        expected = num / EWMA_NORM
        assert math.isclose(got, float(expected), rel_tol=1e-12), (t, day)
    # every observed (type, day) grain got a smoothed value
    assert len(out) == sum(len(v) for v in daily.values())


def test_ewma_weights_cover_norm(spark):
    assert sum(1 << (EWMA_HORIZON - 1 - k) for k in range(EWMA_HORIZON)) == EWMA_NORM
