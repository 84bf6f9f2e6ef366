"""Semantic property + physical-plan tests for the round-5 query batch
(warehouse temporal tier, dedup-graph diagnostics, embedding norms,
feature hashing, partitioned sink). Oracle parity itself is covered by
the test_oracle_parity.py sweep; these tests pin the properties the
docstrings PROMISE — window coverage, interval tiling, statistic
bounds, broadcast shapes — so a refactor that stays hash-green but
breaks a scale claim still fails."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.warehouse import SLIDE_DAYS
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts


# -- q_sliding_distinct -----------------------------------------------------


def test_sliding_distinct_matches_bruteforce(spark, sf_dir):
    """Window count must equal the brute-force distinct over the raw
    window range, for a sample of windows."""
    got = {
        r.win_start: r.n_users
        for r in REGISTRY["q_sliding_distinct"].builder(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    for win in sorted(got)[:: max(1, len(got) // 5)]:
        start = datetime.date.fromisoformat(win)
        end = start + datetime.timedelta(days=SLIDE_DAYS - 1)
        brute = (
            ev.where((F.col("d") >= F.lit(start)) & (F.col("d") <= F.lit(end)))
            .select("user_id")
            .distinct()
            .count()
        )
        assert got[win] == brute, win
    # every window bigger than any single day, smaller than total users
    total = ev.select("user_id").distinct().count()
    assert all(0 < n <= total for n in got.values())


# -- q_scd2_intervals -------------------------------------------------------


def test_scd2_intervals_tile_each_user_timeline(spark, sf_dir):
    """Intervals must tile: per user, ordered valid_from strictly
    increasing, each valid_to equals the next valid_from, exactly one
    open (is_current) interval, and adjacent intervals never share a
    state (otherwise they'd have been merged)."""
    rows = REGISTRY["q_scd2_intervals"].builder(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ivs if r.is_current) == 1, user
        assert ivs[-1].valid_to is None, user
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, user
            assert a.state != b.state, user


def test_scd2_reuses_one_sort_for_both_windows(registry_plans):
    """Both windows key by user, so the plan must contain exactly ONE
    exchange (the user partitioning), not one per window."""
    plan = registry_plans["q_scd2_intervals"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1
    }, plan


# -- q_cusum_changepoint ----------------------------------------------------


def test_cusum_changepoint_is_joinless_single_grain_exchange(registry_plans):
    """Mean/running-sum/argmax all run as windows over the daily grain,
    sharing the event_type partitioning — no join anywhere, and only
    the grain groupBy plus the (reused) window exchange."""
    plan = registry_plans["q_cusum_changepoint"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(event_type, _groupingexpression)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(event_type)/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_cusum_final_day_sums_to_zero(spark, sf_dir):
    """By construction Σ(daily − mean) over all days of a type is ~0;
    the changepoint day must carry the MAX |cusum|, which therefore
    exceeds the final cusum unless the series is flat."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("v"))
    got = {
        r.event_type: r.max_abs_cusum
        for r in REGISTRY["q_cusum_changepoint"].builder(spark, sf_dir).collect()
    }
    assert got and all(v >= 0 for v in got.values())
    # max |cusum| bounds every prefix deviation, including the n-1 prefix
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stats = daily.groupBy("event_type").agg(
        (F.sum(F.col("v").cast("decimal(30,6)")).cast("double") / F.count("*")).alias("mean")
    )
    c = daily.join(stats, "event_type").withColumn(
        "cusum",
        F.sum((F.col("v") - F.col("mean")).cast("decimal(30,6)")).over(w).cast("double"),
    )
    for r in c.groupBy("event_type").agg(F.max(F.abs("cusum")).alias("m")).collect():
        assert abs(got[r.event_type] - r.m) < 1e-9


# -- q_ks_drift -------------------------------------------------------------


def test_ks_stat_bounds_and_split_coverage(spark, sf_dir):
    rows = REGISTRY["q_ks_drift"].builder(spark, sf_dir).collect()
    assert rows
    ev_n = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_first + r.n_second for r in rows) == ev_n
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0, r
        assert r.d_scaled == round(r.ks_stat * r.n_first * r.n_second), r


# -- q_semi_additive --------------------------------------------------------


def test_semi_additive_equals_per_user_last_value(spark, sf_dir):
    """The month total must equal the Python-side sum of each user's
    chronologically last value — and differ from the naive full sum
    (balance semantics, not flow semantics)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value",
        F.date_format("ts", "yyyy-MM").alias("month"),
    )
    last: dict = {}
    for r in ev.collect():
        key = (r.month, r.user_id)
        cur = last.get(key)
        if cur is None or (r.ts, r.event_id) > (cur[0], cur[1]):
            last[key] = (r.ts, r.event_id, r.value)
    expect: dict = {}
    for (month, _user), (_ts, _eid, value) in last.items():
        n, tot = expect.get(month, (0, 0.0))
        expect[month] = (n + 1, tot + value)
    got = {
        r.month: (r.n_users, r.total_balance)
        for r in REGISTRY["q_semi_additive"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for month, (n, tot) in expect.items():
        assert got[month][0] == n
        assert abs(got[month][1] - tot) < 1e-6
    naive = ev.groupBy("month").agg(F.sum("value").alias("s")).collect()
    for r in naive:
        assert abs(got[r.month][1] - r.s) > 1.0  # balances ≠ flows


# -- q_graph_degree_dist / q_minhash_jaccard_est ----------------------------


def test_degree_dist_accounts_every_pair_endpoint(spark, sf_dir):
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    n_pairs = lsh_candidate_pairs(minhash_signatures(docs)).count()
    rows = REGISTRY["q_graph_degree_dist"].builder(spark, sf_dir).collect()
    assert sum(r.degree * r.n_docs for r in rows) == 2 * n_pairs


def test_jaccard_est_tracks_exact_jaccard(spark, sf_dir):
    """The k=8 estimator is coarse, but for the planted j≈0.98 dups it
    must sit near 1, and it can never disagree with exact Jaccard by
    more than the sketch resolution allows on average."""
    from news_categorization_big_data_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, 0.8).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.jaccard_est
        for r in REGISTRY["q_minhash_jaccard_est"].builder(spark, sf_dir).collect()
    }
    assert est
    high = [est[p] for p, j in exact.items() if j >= 0.95 and p in est]
    assert high and sum(high) / len(high) >= 0.8


# -- q_embedding_norms / q_feature_hash / q_sink_partitioned_roundtrip ------


def test_embedding_norms_is_map_only_topk(registry_plans):
    plan = registry_plans["q_embedding_norms"].plan
    assert "TakeOrderedAndProject" in plan, plan
    assert exchange_counts(plan) == {}, plan
    # no explode: the fold happens inside the project
    assert "Generate" not in plan, plan


def test_feature_hash_buckets_bounded(spark, sf_dir):
    from news_categorization_big_data_spark.plans.corpus import FEATURE_BUCKETS

    rows = REGISTRY["q_feature_hash"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= FEATURE_BUCKETS
    assert all(0 <= r.bucket < FEATURE_BUCKETS for r in rows)
    assert all(r.n_tokens >= r.n_terms >= 1 for r in rows)


def test_sink_roundtrip_writes_one_dir_per_type(spark, sf_dir):
    import os

    from news_categorization_big_data_spark.plans.sources import _fixture_dir

    REGISTRY["q_sink_partitioned_roundtrip"].builder(spark, sf_dir).collect()
    sink = _fixture_dir(spark, sf_dir, "sink_roundtrip")
    parts = sorted(
        d for d in os.listdir(sink) if d.startswith("event_type=")
    )
    types = sorted(
        "event_type=" + r.event_type
        for r in load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    )
    assert parts == types


# -- q_itemset_pairs / q_event_trigrams / q_tokenizer_fertility -------------


def test_itemset_pairs_support_bounds(spark, sf_dir):
    from news_categorization_big_data_spark.plans.warehouse import (
        ITEMSET_MIN_SUPPORT,
    )

    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    rows = REGISTRY["q_itemset_pairs"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.item_a < r.item_b  # canonical ordering, no mirrored dupes
        assert ITEMSET_MIN_SUPPORT <= r.support <= n_users


def test_event_trigrams_counts_match_total(spark, sf_dir):
    """Total trigram occurrences = Σ per-user max(0, n_events - 2); the
    top-k must be a subset of that multiset with the right counts for
    the head element."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").count().collect()
    total = sum(max(0, r["count"] - 2) for r in per_user)
    rows = REGISTRY["q_event_trigrams"].builder(spark, sf_dir).collect()
    assert rows and sum(r.n for r in rows) <= total
    # head count verified independently
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("t"),
        F.lead("event_type", 2).over(w).alias("ok"),
    ).where(F.col("ok").isNotNull())
    head = rows[0] if rows[0].n >= max(r.n for r in rows) else None
    assert head is not None
    got = o.where(F.col("t") == head.trigram).count()
    assert got == head.n


def test_tokenizer_fertility_consistent_with_text_stats(spark, sf_dir):
    rows = {
        r.lang: r
        for r in REGISTRY["q_tokenizer_fertility"].builder(spark, sf_dir).collect()
    }
    assert rows
    for lang, r in rows.items():
        assert r.total_tokens > 0 and r.total_chars > 0
        assert abs(r.chars_per_token - r.total_chars / r.total_tokens) < 1e-12


# -- q_conversion_latency / q_component_sizes -------------------------------


def test_conversion_latency_percentiles_are_real_latencies(spark, sf_dir):
    """p50 ≤ p90, every reported stat positive, and the count matches an
    independent count of purchases with a preceding view/click."""
    rows = REGISTRY["q_conversion_latency"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.p50_latency_s <= r.p90_latency_s, r
        assert r.mean_latency_s > 0 and r.n_conversions > 0, r
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    src = F.last(
        F.when(F.col("event_type").isin("view", "click"), F.unix_micros("ts")),
        ignorenulls=True,
    ).over(w)
    n = (
        ev.withColumn("src", src)
        .where((F.col("event_type") == "purchase") & F.col("src").isNotNull())
        .count()
    )
    assert sum(r.n_conversions for r in rows) == n


def test_component_sizes_account_for_every_clustered_doc(spark, sf_dir):
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from news_categorization_big_data_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    cc_n = connected_components(
        lsh_candidate_pairs(minhash_signatures(docs))
    ).count()
    rows = REGISTRY["q_component_sizes"].builder(spark, sf_dir).collect()
    assert rows
    assert sum(r.cluster_size * r.n_clusters for r in rows) == cc_n
    assert all(r.cluster_size >= 2 for r in rows)  # singletons not emitted
