"""Plan-shape and invariant tests for plans/olap.py and plans/corpus.py.
Value parity vs DuckDB is covered by the parametrized
tests/test_oracle_parity.py; these assert the 100-TB plan claims and
the semantic invariants the oracles can't express."""

from __future__ import annotations

from news_categorization_big_data_spark.plans import REGISTRY


# -- q_group_mode -----------------------------------------------------------


def test_group_mode_window_runs_on_aggregate_not_raw_events(registry_plans):
    plan = registry_plans["q_group_mode"].plan
    # count first (partial+final), THEN the ranked window — the window
    # string must appear above the aggregate in the tree (executedPlan
    # prints top-down, so Window comes before the agg's FileScan)
    assert "Window" in plan and "HashAggregate" in plan, plan
    assert plan.index("Window") < plan.index("FileScan"), plan


def test_group_mode_unique_per_user(spark, sf_dir):
    rows = REGISTRY["q_group_mode"].builder(spark, sf_dir).collect()
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))


# -- q_window_nth -----------------------------------------------------------


def test_window_nth_single_pass(registry_plans):
    plan = registry_plans["q_window_nth"].plan
    assert plan.count("Window") == 1, plan
    # all three navigators in the same window node (Catalyst rewrites
    # first() over an explicit frame into nth_value(…, 1))
    assert plan.count("nth_value(") >= 2 and "last(" in plan, plan


def test_window_nth_last_equals_partition_last(spark, sf_dir):
    df = REGISTRY["q_window_nth"].builder(spark, sf_dir)
    rows = df.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, set()).add((r.first_val, r.last_val))
    # full-frame navigation: every row of a user agrees on first/last
    assert all(len(v) == 1 for v in by_user.values())


# -- q_skyline --------------------------------------------------------------


def test_skyline_no_dominated_rows(spark, sf_dir):
    rows = REGISTRY["q_skyline"].builder(spark, sf_dir).collect()
    assert rows, "skyline must be non-empty"
    pts = [(r.p_retailprice, r.p_size) for r in rows]
    for price, size in pts:
        for p2, s2 in pts:
            dominated = p2 <= price and s2 >= size and (p2 < price or s2 > size)
            assert not dominated, (price, size, p2, s2)


def test_skyline_window_runs_on_per_price_aggregate(registry_plans):
    plan = registry_plans["q_skyline"].plan
    assert "Window" in plan, plan
    # frontier joined back by broadcast — the fact side never shuffles
    assert "BroadcastHashJoin" in plan, plan


# -- q_resample_ohlc --------------------------------------------------------


def test_ohlc_is_one_aggregate_no_window_no_udf(registry_plans):
    plan = registry_plans["q_resample_ohlc"].plan
    assert "Window" not in plan, plan
    assert "min_by" in plan and "max_by" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # partial aggregation before the exchange (map-side combine)
    assert "partial_min_by" in plan, plan


def test_ohlc_open_close_consistent(spark, sf_dir):
    rows = REGISTRY["q_resample_ohlc"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low <= r.open <= r.high, r
        assert r.low <= r.close <= r.high, r
        if r.n_events == 1:
            assert r.open == r.close == r.high == r.low, r


# -- q_dedup_passage --------------------------------------------------------


def test_dedup_passage_stays_jvm_side(registry_plans):
    plan = registry_plans["q_dedup_passage"].plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Generate" in plan, plan  # the explode


def test_dedup_passage_invariants(spark, sf_dir):
    rows = REGISTRY["q_dedup_passage"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_passages, r
        assert 0 <= r.n_dup_passages <= r.n_passages, r
        assert abs(r.dup_frac - r.n_dup_passages / r.n_passages) < 1e-12, r


# -- q_sample_weighted ------------------------------------------------------


def test_sample_weighted_deterministic_and_proportional(spark, sf_dir):
    build = REGISTRY["q_sample_weighted"].builder
    a = sorted(r.doc_id for r in build(spark, sf_dir).collect())
    b = sorted(r.doc_id for r in build(spark, sf_dir).collect())
    assert a == b and a, "deterministic, non-empty"


# -- q_hll_distinct ---------------------------------------------------------


def test_hll_estimates_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.sources.tables import load_table

    rows = REGISTRY["q_hll_distinct"].builder(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact_global = ev.select("user_id").distinct().count()
    for r in rows:
        # the semi-oracle booleans the driver hashes, plus the exact
        # columns they were judged against
        assert r.exact_users == exact[r.event_type], r
        assert r.exact_global == exact_global, r
        assert r.type_in_bound is True and r.global_in_bound is True, r
    # raw-estimate invariants on the sketch surface itself: per-type
    # estimate within 5%, and the union can never undercut its largest
    # input by more than the sketch error band
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    ests = {
        r.event_type: r.a
        for r in per_type.select(
            "event_type", F.hll_sketch_estimate("sk").alias("a")
        ).collect()
    }
    global_est = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("g")
    ).collect()[0].g
    for et, a in ests.items():
        assert abs(a - exact[et]) / exact[et] < 0.05, (et, a)
        assert global_est >= a * 0.95, (et, a, global_est)
    assert abs(global_est - exact_global) / exact_global < 0.05


# -- q_graph_triangles ------------------------------------------------------


def test_triangles_are_ordered_closed_and_edge_backed(spark, sf_dir):
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from news_categorization_big_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    edges = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    tris = REGISTRY["q_graph_triangles"].builder(spark, sf_dir).collect()
    for t in tris:
        assert t.doc_a < t.doc_b < t.doc_c, t
        assert (t.doc_a, t.doc_b) in edges, t
        assert (t.doc_a, t.doc_c) in edges, t
        assert (t.doc_b, t.doc_c) in edges, t


# -- q_incremental_agg ------------------------------------------------------


def test_incremental_agg_prunes_both_halves(registry_plans):
    plan = registry_plans["q_incremental_agg"].plan
    # both sides push their timestamp predicate to their scan
    # both halves filter at their scan (events.ts is ns-encoded BIGINT,
    # converted in a projection, so the predicate sits in DataFilters on
    # the derived column rather than PushedFilters)
    assert ">= 2024-01-15 00:00:00" in plan, plan
    assert "< 2024-01-15 00:00:00" in plan, plan
    # merge = union of partial states + final aggregate (no join)
    assert "Union" in plan, plan
    assert "Join" not in plan, plan


def test_incremental_agg_equals_single_pass(spark, sf_dir):
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.sources.tables import load_table

    merged = {
        r.event_type: (r.n_events, round(r.total_value, 6))
        for r in REGISTRY["q_incremental_agg"].builder(spark, sf_dir).collect()
    }
    full = {
        r.event_type: (r.n, round(r.sv, 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sv"),
        )
        .collect()
    }
    assert merged == full


# -- q_quantile_sketch ------------------------------------------------------


def test_quantile_sketch_within_rank_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.plans.olap import QSK_ACCURACY, QSK_PROBES
    from news_categorization_big_data_spark.sources.tables import load_table

    rows = REGISTRY["q_quantile_sketch"].builder(spark, sf_dir).collect()
    assert rows
    # the registered query now emits the rank-neighborhood verdicts the
    # driver hashes; all must hold, and n_values must match exact
    ev = load_table(spark, sf_dir, "events")
    n_exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("value").alias("n")).collect()
    }
    for r in rows:
        assert r.n_values == n_exact[r.event_type], r
        assert r.p50_in_bound is True, r
        assert r.p95_in_bound is True, r
        assert r.p99_in_bound is True, r
    # independent brute-force check of the same contract: each raw
    # sketch estimate's rank interval intersects [p·n − δ, p·n + δ]
    ests = {
        r.event_type: r.pcts
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", list(QSK_PROBES), QSK_ACCURACY).alias(
                "pcts"
            )
        )
        .collect()
    }
    vals = {}
    for row in ev.select("event_type", "value").collect():
        if row.value is not None:
            vals.setdefault(row.event_type, []).append(row.value)
    for et, series in vals.items():
        series.sort()
        n = len(series)
        delta = n / QSK_ACCURACY + 1.0
        for p, v in zip(QSK_PROBES, ests[et]):
            import bisect

            below = bisect.bisect_left(series, v)
            at_or_below = bisect.bisect_right(series, v)
            assert at_or_below > below, (et, p, v)  # observed value
            assert below + 1 <= p * n + delta, (et, p, v)
            assert at_or_below >= p * n - delta, (et, p, v)


# -- q_chi2_terms -----------------------------------------------------------


def test_chi2_terms_topk_per_lang_and_nonnegative(spark, sf_dir):
    from news_categorization_big_data_spark.plans.corpus import CHI2_TOP_K

    rows = REGISTRY["q_chi2_terms"].builder(spark, sf_dir).collect()
    assert rows
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r)
        assert r.chi2 >= 0.0, r
        assert r.n_occurrences > 0, r
    for lang, rs in per_lang.items():
        assert len(rs) <= CHI2_TOP_K, (lang, rs)
        chis = [r.chi2 for r in rs]
        assert chis == sorted(chis, reverse=True), (lang, chis)


# -- q_join_interval_overlap ------------------------------------------------


def test_interval_overlap_is_equi_join_not_theta(registry_plans):
    plan = registry_plans["q_join_interval_overlap"].plan
    # the join must be hash-based on the bucket id — never a nested loop
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan
    # interval explode on both sides
    assert plan.count("Generate") >= 2, plan


def test_interval_overlap_pairs_truly_overlap(spark, sf_dir):
    from news_categorization_big_data_spark.plans.olap import IVL_HALF_WIDTH_US

    rows = REGISTRY["q_join_interval_overlap"].builder(spark, sf_dir).collect()
    for r in rows:
        assert r.overlap_lo_us <= r.overlap_hi_us, r
        # overlap length is bounded by a full window
        assert r.overlap_hi_us - r.overlap_lo_us <= 2 * IVL_HALF_WIDTH_US, r
