"""Plan-shape audits for the round-3 additions (TPC-H Q4/Q10/Q18 and
the event-analytics / curation / vector queries): physical plans must
carry the scale shapes the docstrings promise — value parity is covered
by tests/test_oracle_parity.py."""

from __future__ import annotations

from news_categorization_big_data_spark.plans import REGISTRY
from tests.conftest import assert_map_only


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q4_left_semi_no_cartesian(spark, sf_dir):
    plan = _plan(REGISTRY["q_tpch_q4"].builder(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the order-date window reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_q10_broadcasts_nation_pushes_filters(spark, sf_dir):
    plan = _plan(REGISTRY["q_tpch_q10"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # returnflag filter pushed to the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_q18_aggregates_lineitem_before_joins(spark, sf_dir):
    plan = _plan(REGISTRY["q_tpch_q18"].builder(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_sessionize_single_exchange(spark, sf_dir):
    """The window partitions by user_id; the follow-up groupBy
    (user_id, sid) is satisfied by the SAME hash partitioning
    (ClusteredDistribution subset rule), so the whole query must plan
    exactly one shuffle."""
    plan = _plan(REGISTRY["q_sessionize"].builder(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan, plan


def test_retention_cohort_single_scan(spark, sf_dir):
    """Round-8 shape (q_funnel discipline): distinct (user, day) pairs,
    cohort from a user-partition window — events scanned ONCE, no join
    back, no count_distinct expand (distinct pairs make COUNT(*) the
    user count)."""
    plan = _plan(REGISTRY["q_retention_cohort"].builder(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Expand" not in plan, plan  # count_distinct would add one


def test_growth_accounting_single_scan(spark, sf_dir):
    """Round-8 shape (q_funnel discipline): the labeled activity rows
    explode into their two ledger contributions and ONE day aggregate
    sums both — events scanned ONCE, the today×churn join gone."""
    plan = _plan(REGISTRY["q_growth_accounting"].builder(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan


def test_mad_winsorize_single_fact_pass(spark, sf_dir):
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
    counts_plan = _plan(value_counts(ev, ["event_type"], F.col("value")))
    assert counts_plan.count("FileScan parquet") == 1, counts_plan

    for qname in ("q_mad_outliers", "q_winsorize"):
        df = REGISTRY[qname].builder(spark, sf_dir)
        plan = _plan(df)
        # zero scans hit storage per run: every FileScan in the render
        # sits inside the InMemoryRelation (printed once per reader)
        assert uncached_file_scans(plan) == 0, (qname, plan)
        assert "InMemoryTableScan" in plan, (qname, plan)
        assert "collect_list" not in plan, (qname, plan)
        assert df.count() > 0  # materializes; smoke that it executes


def test_funnel_single_scan_single_exchange(spark, sf_dir):
    """Round-7 shape: three UNORDERED full-partition windows stacked
    over one user_id exchange — events scanned once, never sorted, no
    cross join, and the per-user collapse reuses the window's
    partitioning (no second hash exchange on user_id)."""
    plan = _plan(REGISTRY["q_funnel"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    # unordered windows: no sort order inside any window spec
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_retention_cohort_reuses_user_partitioning(spark, sf_dir):
    """first-seen agg + join back both hash on user_id; only the final
    (cohort, offset) distinct-count adds different-key shuffles."""
    plan = _plan(REGISTRY["q_retention_cohort"].builder(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") <= 2, plan


def test_decay_agg_map_side_weights(spark, sf_dir):
    plan = _plan(REGISTRY["q_decay_agg"].builder(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bpe_pairs_single_shuffle_topk(spark, sf_dir):
    plan = _plan(REGISTRY["q_bpe_pair_counts"].builder(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_quantize_map_only(spark, sf_dir):
    plan = assert_map_only(
        spark,
        lambda: REGISTRY["q_embedding_quantize"].builder(spark, sf_dir),
        fan_out_key="vec_id",
    )
    assert "Join" not in plan, plan


def test_keep_best_single_component_window(spark, sf_dir):
    """One window pass over the (tiny) component table computes both the
    argmax rank and n_members — WindowGroupLimit can't prune here
    because the member count needs every row, so the contract is: a
    single component-partitioned Window, no cross join."""
    plan = _plan(REGISTRY["q_dedup_keep_best"].builder(spark, sf_dir))
    assert plan.count("Window") >= 1, plan
    assert "Exchange hashpartitioning(component" in plan, plan
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


def test_cube_expands_once(spark, sf_dir):
    plan = _plan(REGISTRY["q_cube"].builder(spark, sf_dir))
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_time_range_window_single_pass(spark, sf_dir):
    plan = _plan(REGISTRY["q_window_time_range"].builder(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "specifiedwindowframe(RangeFrame" in plan, plan


def test_histogram_single_shuffle_no_join(spark, sf_dir):
    plan = _plan(REGISTRY["q_value_histogram"].builder(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_zscore_broadcasts_stats(spark, sf_dir):
    plan = _plan(REGISTRY["q_zscore_outliers"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_salted_join_hides_salt(spark, sf_dir):
    df = REGISTRY["q_join_salted"].builder(spark, sf_dir)
    assert df.columns == ["user_id", "n_events", "sum_type_total"]
    plan = _plan(df)
    assert "_salt" in plan, plan  # the salt really is in the join keys


def test_lateral_decorrelates_to_window(spark, sf_dir):
    """The per-customer LIMIT-2 LATERAL subquery must decorrelate into
    a ranked-window + join plan — NOT one subquery execution per outer
    row (no nested-loop over the orders scan)."""
    plan = _plan(REGISTRY["q_sql_lateral"].builder(spark, sf_dir))
    assert "Window" in plan or "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_variant_json_map_only(spark, sf_dir):
    plan = assert_map_only(
        spark,
        lambda: REGISTRY["q_variant_json"].builder(spark, sf_dir),
        fan_out_key="event_id",
    )
    assert "Join" not in plan, plan
    assert "variant_get" in plan, plan


def test_join_bucketed_runs_with_zero_exchanges(spark, sf_dir):
    """Bucketed layout: join AND downstream aggregate reuse the at-rest
    hash partitioning — not a single Exchange in the physical plan."""
    df = REGISTRY["q_join_bucketed"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_merge_upsert_is_one_copartitioned_shuffle(spark, sf_dir):
    """MERGE plans as FullOuter sort-merge; both profile aggregates and
    the join share the user_id partitioning (one exchange per side, the
    join itself adds none)."""
    df = REGISTRY["q_merge_upsert"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
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
