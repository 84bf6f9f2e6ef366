"""Property + plan-shape tests for the corpus-refinement tier
(plans/refinement.py): bigram-LM fluency score, fixed-size weighted
WOR sample, ER blocking profile, time-weighted average. Each query's
docstring promises a plan shape; these pin it."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.refinement import (
    ERB_TOPN,
    WOR_BAND,
    WOR_K,
    WOR_WCAP,
)
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts


# ---- q_doc_fluency -------------------------------------------------------


def test_doc_fluency_bounds_and_coverage(spark, sf_dir):
    rows = REGISTRY["q_doc_fluency"].builder(spark, sf_dir).collect()
    assert rows
    docs_with_bigrams = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text") != "")
        .where(F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 2)
        .count()
    )
    # every multi-token doc scores exactly once (whitespace-only tokens
    # may drop a few below the trim-based estimate, never add)
    assert 0 < len(rows) <= docs_with_bigrams + 1
    for r in rows:
        assert 1 <= r["lm_hits"] <= r["n_bigrams"], r
        # mean of values on [0, 1e6] stays on [0, 1e6]
        assert 0 <= r["mean_cond_ppm"] <= 1_000_000, r


def test_doc_fluency_lm_join_is_unhinted(registry_plans, spark, sf_dir):
    # the LM grows with the corpus: the docstring promises an UNHINTED
    # equi-join (AQE broadcasts it while small, shuffles it at scale) —
    # a hard-coded broadcast hint would pin the wrong choice at 100 TB
    df = REGISTRY["q_doc_fluency"].builder(spark, sf_dir)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "hint" not in logical.lower()
    assert "Join" in registry_plans["q_doc_fluency"].plan


# ---- q_sample_wor --------------------------------------------------------


def test_sample_wor_exact_k_distinct_and_stable(spark, sf_dir):
    df = REGISTRY["q_sample_wor"].builder(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == WOR_K
    ids = [r["doc_id"] for r in rows]
    assert len(set(ids)) == WOR_K  # without replacement
    again = [r["doc_id"] for r in df.collect()]
    assert sorted(ids) == sorted(again)  # seeded -> stable run to run
    for r in rows:
        assert 1 <= r["weight"] <= WOR_WCAP, r


def test_sample_wor_favors_heavy_docs(spark, sf_dir):
    # the sampler's whole point: the capped-weight mean of sampled docs
    # should exceed the population's (heavier docs hold more tickets)
    sample = REGISTRY["q_sample_wor"].builder(spark, sf_dir)
    samp_mean = sample.agg(F.avg("weight")).first()[0]
    pop_mean = (
        load_table(spark, sf_dir, "documents")
        .where(F.least(F.col("n_chars"), F.lit(WOR_WCAP)) >= 1)
        .agg(F.avg(F.least(F.col("n_chars"), F.lit(WOR_WCAP))))
        .first()[0]
    )
    assert samp_mean > pop_mean


def test_sample_wor_ticket_count_bounded(spark, sf_dir):
    max_tickets = (WOR_WCAP + WOR_BAND - 1) // WOR_BAND
    assert max_tickets == 4  # the docstring's "<= 4x explode" claim


def test_sample_wor_is_top_k_not_global_sort(registry_plans):
    plan = registry_plans["q_sample_wor"].plan
    assert "TakeOrderedAndProject" in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(doc_id, weight)/ENSURE_REQUIREMENTS": 1
    }, plan


# ---- q_er_blocking -------------------------------------------------------


def test_er_blocking_pair_arithmetic_and_order(spark, sf_dir):
    rows = REGISTRY["q_er_blocking"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= ERB_TOPN
    for r in rows:
        assert r["n_docs"] >= 2
        assert r["cand_pairs"] == r["n_docs"] * (r["n_docs"] - 1) // 2, r
    loads = [r["cand_pairs"] for r in rows]
    assert loads == sorted(loads, reverse=True)


def test_er_blocking_is_top_n_not_global_sort(registry_plans):
    plan = registry_plans["q_er_blocking"].plan
    assert "TakeOrderedAndProject" in plan, plan


# ---- q_twap --------------------------------------------------------------


def test_twap_within_value_range_per_type(spark, sf_dir):
    rows = REGISTRY["q_twap"].builder(spark, sf_dir).collect()
    assert rows
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in rows:
        lo, hi = bounds[r["event_type"]]
        # a duration-weighted mean lives inside the value range
        # (1e-6 slack for the DECIMAL(18,6) grid)
        assert lo - 1e-6 <= r["twap"] <= hi + 1e-6, r
        assert r["total_us"] > 0 and r["n_intervals"] >= 1


def test_twap_differs_from_plain_avg(spark, sf_dir):
    # uneven arrival means the duration-weighted mean is NOT the plain
    # mean; if they all coincided the operator would be vacuous
    twap = {
        r["event_type"]: r["twap"]
        for r in REGISTRY["q_twap"].builder(spark, sf_dir).collect()
    }
    plain = {
        r["event_type"]: r["m"]
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
        .collect()
    }
    assert any(abs(twap[t] - plain[t]) > 1e-9 for t in twap)


# ---- q_inverted_index ----------------------------------------------------


def test_inverted_index_gate_and_postings(spark, sf_dir):
    from news_categorization_big_data_spark.plans.retrieval import INVIDX_DF_CAP

    rows = REGISTRY["q_inverted_index"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["df"] > INVIDX_DF_CAP:
            assert r["postings"] is None, r  # heavy terms never materialize
        else:
            ids = [int(x) for x in r["postings"].split(",")]
            assert len(ids) == r["df"], r  # one posting per doc
            assert ids == sorted(ids), r  # numeric ascending
        assert r["tf_total"] >= r["df"] >= 1
    # the gate actually bites: the tiny-sf corpus repeats one synthetic
    # vocabulary, so heavy terms always exist
    assert any(r["df"] > INVIDX_DF_CAP for r in rows)


def test_inverted_index_two_pass_gate_in_plan(registry_plans):
    # the docstring's scale claim: light terms admitted by a semi-join
    # BEFORE the collect — never collect-then-null
    plan = registry_plans["q_inverted_index"].plan
    assert "LeftSemi" in plan, plan


# ---- q_ab_srm ------------------------------------------------------------


def test_ab_srm_partition_and_statistic(spark, sf_dir):
    rows = REGISTRY["q_ab_srm"].builder(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_a"] + r["n_b"] + r["n_c"] == r["n_users"]  # arms partition users
    # md5 bucketing is uniform: a healthy assignment's chi2 (df=2,
    # mean 2) stays far below this generous bound at any sf
    assert 0.0 <= r["chi2_srm"] < 50.0, r


def test_ab_srm_counts_users_not_events(spark, sf_dir):
    r = REGISTRY["q_ab_srm"].builder(spark, sf_dir).first()
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert r["n_users"] == n_users
