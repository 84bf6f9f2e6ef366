"""Plan-shape audits for the round-3 additions (TPC-H Q4/Q10/Q18 and
the event-analytics / curation / vector queries): physical plans must
carry the scale shapes the docstrings promise — value parity is covered
by tests/test_oracle_parity.py."""

from __future__ import annotations

from news_categorization_big_data_spark.plans import REGISTRY
from tests.conftest import assert_map_only, exchange_counts, physical_plan


def test_q4_left_semi_no_cartesian(registry_plans):
    plan = registry_plans["q_tpch_q4"].plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the order-date window reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_q10_broadcasts_nation_pushes_filters(registry_plans):
    plan = registry_plans["q_tpch_q10"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # returnflag filter pushed to the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_q18_aggregates_lineitem_before_joins(registry_plans):
    plan = registry_plans["q_tpch_q18"].plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_sessionize_single_exchange(registry_plans):
    """The window partitions by user_id; the follow-up groupBy
    (user_id, sid) is satisfied by the SAME hash partitioning
    (ClusteredDistribution subset rule), so the whole query must plan
    exactly one shuffle."""
    plan = registry_plans["q_sessionize"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1
    }, plan
    assert "Window" in plan, plan


def test_retention_cohort_single_scan(registry_plans):
    """Round-8 shape (q_funnel discipline): distinct (user, day) pairs,
    cohort from a user-partition window — events scanned ONCE, no join
    back, no count_distinct expand (distinct pairs make COUNT(*) the
    user count)."""
    plan = registry_plans["q_retention_cohort"].plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Expand" not in plan, plan  # count_distinct would add one


def test_growth_accounting_single_scan(registry_plans):
    """Round-8 shape (q_funnel discipline): the labeled activity rows
    explode into their two ledger contributions and ONE day aggregate
    sums both — events scanned ONCE, the today×churn join gone."""
    plan = registry_plans["q_growth_accounting"].plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan


def test_mad_winsorize_single_fact_pass(registry_plans, spark, sf_dir):
    """Round-8 shape: the order-statistic pair reads the fact table
    exactly ONCE — into the MEMORY_AND_DISK-persisted distinct-value
    counts table — and every later phase (medians, deviation
    re-counts, per-mille bounds, clipped decimal sums) is value-domain
    work on cache reads. (persist over localCheckpoint is a measured
    interleaved-A/B call, SCALE.md round 8.) The round-7 form
    re-evaluated the fact subtree per consumer (q_mad_outliers: 8
    scans). collect_list must never reappear (the 100-TB
    per-group-array OOM)."""
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.functions.ordered import value_counts
    from news_categorization_big_data_spark.functions.plan_text import (
        uncached_file_scans,
    )
    from news_categorization_big_data_spark.sources.tables import load_table

    # the one-scan claim lives in the PRE-persist subtree: value_counts
    # over the fact table must itself be exactly one scan (a regression
    # to the old count+join total shape would hide inside the cached
    # render otherwise)
    ev = load_table(spark, sf_dir, "events")
    counts_plan = physical_plan(value_counts(ev, ["event_type"], F.col("value")))
    assert counts_plan.count("FileScan parquet") == 1, counts_plan

    for qname in ("q_mad_outliers", "q_winsorize"):
        plan = registry_plans[qname].plan
        # zero scans hit storage per run: every FileScan in the render
        # sits inside the InMemoryRelation (printed once per reader)
        assert uncached_file_scans(plan) == 0, (qname, plan)
        assert "InMemoryTableScan" in plan, (qname, plan)
        assert "collect_list" not in plan, (qname, plan)
        # materializes; smoke that it executes
        assert REGISTRY[qname].builder(spark, sf_dir).count() > 0


def test_funnel_single_scan_single_exchange(registry_plans):
    """Round-7 shape: three UNORDERED full-partition windows stacked
    over one user_id exchange — events scanned once, never sorted, no
    cross join, and the per-user collapse reuses the window's
    partitioning (no second hash exchange on user_id)."""
    plan = registry_plans["q_funnel"].plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1,
        "SinglePartition/ENSURE_REQUIREMENTS": 1,
    }, plan
    # unordered windows: no sort order inside any window spec
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_retention_cohort_reuses_user_partitioning(registry_plans):
    """first-seen agg + join back both hash on user_id; only the final
    (cohort, offset) distinct-count adds different-key shuffles."""
    plan = registry_plans["q_retention_cohort"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(user_id, d)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(cohort_day, _groupingexpression)/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_decay_agg_map_side_weights(registry_plans):
    plan = registry_plans["q_decay_agg"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(event_type)/ENSURE_REQUIREMENTS": 1
    }, plan


def test_bpe_pairs_single_shuffle_topk(registry_plans):
    plan = registry_plans["q_bpe_pair_counts"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(pair)/ENSURE_REQUIREMENTS": 1
    }, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_quantize_map_only(registry_plans):
    plan = assert_map_only(registry_plans, "q_embedding_quantize", "vec_id")
    assert "Join" not in plan, plan


def test_keep_best_single_component_window(registry_plans):
    """One window pass over the (tiny) component table computes both the
    argmax rank and n_members — WindowGroupLimit can't prune here
    because the member count needs every row, so the contract is: a
    single component-partitioned Window, no cross join."""
    plan = registry_plans["q_dedup_keep_best"].plan
    assert plan.count("Window") >= 1, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(doc_id)/ENSURE_REQUIREMENTS": 2,
        "hashpartitioning(component)/ENSURE_REQUIREMENTS": 1,
    }, plan
    assert "CartesianProduct" not in plan, plan


def test_sessionize_values(spark, sf_dir):
    """Sessions are well-formed: start ≤ end, positive event counts,
    per-user session_seq is 1..n dense."""
    from pyspark.sql import functions as F

    df = REGISTRY["q_sessionize"].builder(spark, sf_dir)
    bad = df.where(
        (F.col("session_start") > F.col("session_end")) | (F.col("n_events") < 1)
    ).count()
    assert bad == 0
    dense = (
        df.groupBy("user_id")
        .agg(
            F.min("session_seq").alias("lo"),
            F.max("session_seq").alias("hi"),
            F.count("*").alias("n"),
        )
        .where((F.col("lo") != 1) | (F.col("hi") != F.col("n")))
        .count()
    )
    assert dense == 0


def test_funnel_is_monotone(spark, sf_dir):
    rows = {r.stage: r.n_users for r in REGISTRY["q_funnel"].builder(spark, sf_dir).collect()}
    assert rows[1] >= rows[2] >= rows[3]
    assert rows[1] > 0


def test_cube_expands_once(registry_plans):
    plan = registry_plans["q_cube"].plan
    assert "Expand" in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(o_orderstatus, o_orderpriority, spark_grouping_id)"
        "/ENSURE_REQUIREMENTS": 1
    }, plan


def test_time_range_window_single_pass(registry_plans):
    plan = registry_plans["q_window_time_range"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1
    }, plan
    assert "specifiedwindowframe(RangeFrame" in plan, plan


def test_histogram_single_shuffle_no_join(registry_plans):
    plan = registry_plans["q_value_histogram"].plan
    assert "Join" not in plan, plan
    assert exchange_counts(plan) == {
        "hashpartitioning(event_type, _groupingexpression)/ENSURE_REQUIREMENTS": 1
    }, plan


def test_zscore_broadcasts_stats(registry_plans):
    plan = registry_plans["q_zscore_outliers"].plan
    assert "BroadcastHashJoin" in plan, plan


def test_salted_join_hides_salt(registry_plans):
    schema, plan = registry_plans["q_join_salted"]
    assert schema.names == ["user_id", "n_events", "sum_type_total"]
    assert "_salt" in plan, plan  # the salt really is in the join keys


def test_lateral_decorrelates_to_window(registry_plans):
    """The per-customer LIMIT-2 LATERAL subquery must decorrelate into
    a ranked-window + join plan — NOT one subquery execution per outer
    row (no nested-loop over the orders scan)."""
    plan = registry_plans["q_sql_lateral"].plan
    assert "Window" in plan or "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_variant_json_map_only(registry_plans):
    plan = assert_map_only(registry_plans, "q_variant_json", "event_id")
    assert "Join" not in plan, plan
    assert "variant_get" in plan, plan


def test_join_bucketed_runs_with_zero_exchanges(registry_plans):
    """Bucketed layout: join AND downstream aggregate reuse the at-rest
    hash partitioning — not a single Exchange in the physical plan."""
    plan = registry_plans["q_join_bucketed"].plan
    assert "SortMergeJoin" in plan, plan
    assert exchange_counts(plan) == {}, plan
    assert "Bucketed: true" in plan, plan


def test_merge_upsert_is_one_copartitioned_shuffle(registry_plans):
    """MERGE plans as FullOuter sort-merge; both profile aggregates and
    the join share the user_id partitioning (one exchange per side, the
    join itself adds none)."""
    plan = registry_plans["q_merge_upsert"].plan
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_merge_upsert_actions_partition_the_keyspace(spark, sf_dir):
    rows = REGISTRY["q_merge_upsert"].builder(spark, sf_dir).collect()
    actions = {r["merge_action"] for r in rows}
    assert actions <= {"insert", "update", "keep"}
    # keys are unique after the merge — it IS an upsert
    keys = [r["user_id"] for r in rows]
    assert len(keys) == len(set(keys))


def test_group_entropy_unbounded_counts_exact(spark, tmp_path):
    """Round 12 replaced the 1024-row log2 lookup (whose fail-fast
    bound /tmp/skew4's 30k-row null group tripped — as any 100-TB hot
    entity would) with the unbounded engine-pinned det_log2_sql
    closed form. A count far past the old bound must now SUCCEED with
    the exact entropy: one user with 5000 events of one type has
    H = 0 (to the 1e-9 quantization grid); a 3000/1000 two-type user
    has the textbook H."""
    import math

    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.plans import REGISTRY
    from news_categorization_big_data_spark.sources.tables import load_table

    one = load_table(spark, "/root/testdata/sf0.001", "events").limit(1)
    big = one.select(
        F.explode(F.sequence(F.lit(1), F.lit(9000))).alias("_i"),
        *[c for c in one.columns],
    ).select(
        F.col("_i").cast("long").alias("event_id"),
        "ts",
        F.when(F.col("_i") <= 5000, F.lit(7)).otherwise(F.lit(8)).cast("long").alias("user_id"),
        F.when(
            (F.col("_i") > 5000) & (F.col("_i") <= 8000), F.lit("click")
        ).otherwise(F.lit("view")).alias("event_type"),
        "value",
        "props",
    )
    big.write.parquet(str(tmp_path / "events.parquet"))
    rows = {
        r["user_id"]: r
        for r in REGISTRY["q_group_entropy"].builder(spark, str(tmp_path)).collect()
    }
    assert rows[7]["n_events"] == 5000
    assert abs(rows[7]["entropy_bits"]) < 1e-8  # single-type: H = 0
    expected = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert rows[8]["n_events"] == 4000
    assert abs(rows[8]["entropy_bits"] - expected) < 1e-8
