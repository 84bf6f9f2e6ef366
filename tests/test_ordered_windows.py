"""The ranged total-order window valve (functions/ordered.py):
spark.graft.window.ranged=true must produce byte-identical results to
the default single-partition global window on every caller, while
actually planning per-bucket windows over the literal-bounds pid
(round 11; previously a RangePartitioning exchange — replaced after a
measured boundary-divergence wrong answer) instead of the one-task
sort. Unit-level checks pin the two-phase arithmetic (partition
offsets, boundary lag stitching, bucket-edge ties, NULL placement)
against a driver-computed answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.ordered import (
    RANGED_CONF,
    global_annotate,
    lag_over,
    running_sum,
)
from news_categorization_big_data_spark.plans import REGISTRY
from tests.conftest import physical_plan


@pytest.fixture
def ranged(spark):
    spark.conf.set(RANGED_CONF, "true")
    yield spark
    spark.conf.unset(RANGED_CONF)


def test_running_sum_matches_prefix_sum(spark, ranged):
    # unique keys, adversarial order, negative values
    rows = [(k, (k * 37) % 11 - 5) for k in range(2000)]
    df = spark.createDataFrame(rows, "k int, v int").repartition(16)
    got = {
        r.k: r.rs
        for r in running_sum(df, ["k"], F.col("v"), "rs").collect()
    }
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert got[k] == acc, (k, got[k], acc)


def test_running_sum_desc_secondary_order(spark, ranged):
    # the q_peak_concurrency shape: (us asc, delta desc), unique pairs
    rows = [(t, d, 1 if d == 1 else -1) for t in range(500) for d in (1, -1)]
    df = spark.createDataFrame(rows, "us int, delta int, n int")
    got = running_sum(
        df, ["us", ("delta", False)], F.col("delta") * F.col("n"), "rs"
    ).collect()
    want = {}
    acc = 0
    for t, d, n in sorted(rows, key=lambda r: (r[0], -r[1])):
        acc += d * n
        want[(t, d)] = acc
    for r in got:
        assert r.rs == want[(r.us, r.delta)], r


def test_lag_over_stitches_partition_boundaries(spark, ranged):
    ids = [i * 3 for i in range(5000)]  # unique, gappy
    df = spark.createDataFrame([(i,) for i in ids], "event_id long").repartition(32)
    got = {
        r.event_id: r.prev
        for r in lag_over(df, "event_id", "prev").collect()
    }
    s = sorted(ids)
    assert got[s[0]] is None
    for a, b in zip(s, s[1:]):
        assert got[b] == a, (b, got[b], a)


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


def test_running_agg_rejects_unsupported_aggregate(spark):
    """The ranged combine only knows sum/max/min; anything else must
    fail fast in BOTH modes (the two plans have to stay
    output-identical for every accepted aggregate), never corrupt."""
    from news_categorization_big_data_spark.functions.ordered import running_agg

    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    with pytest.raises(ValueError, match="running_agg supports"):
        running_agg(df, ["k"], F.col("v"), "out", F.avg)


def test_order_spec_rejects_column_expressions(spark):
    """Order keys are plain (name, ascending) data — a Column built with
    F.asc/F.desc/asc_nulls_last must be rejected in BOTH modes (round
    12 removed the _jc.toString() parse that used to recover direction
    from the JVM render and silently mis-bucketed exotic null
    orderings; rejection makes those unrepresentable)."""
    from news_categorization_big_data_spark.functions.ordered import running_sum

    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    for bad in (F.desc("k"), F.asc("k"), F.col("k").asc_nulls_last()):
        with pytest.raises(TypeError, match="order keys must be"):
            running_sum(df, [bad], F.col("v"), "out")


def test_ranged_rejects_non_numeric_primary(spark, ranged):
    """approxQuantile needs a numeric bucket column; a string primary
    must fail at the valve boundary with the contract message, not deep
    inside py4j (the DEFAULT plan keeps accepting any orderable type)."""
    from news_categorization_big_data_spark.functions.ordered import (
        RANGED_CONF,
        running_sum,
    )

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(TypeError, match="NUMERIC primary order column"):
        running_sum(df, ["k"], F.col("v"), "out")
    # and the default plan still takes string orders
    spark.conf.set(RANGED_CONF, "false")
    assert running_sum(df, ["k"], F.col("v"), "out").collect()[0].out == 1


def test_global_annotate_scalar_matches(spark, ranged):
    df = spark.createDataFrame([(i, i % 7) for i in range(100)], "k int, v int")
    out = global_annotate(df, {"mx": F.max(F.col("v")), "tot": F.sum(F.col("v"))})
    row = out.limit(1).collect()[0]
    assert row.mx == 6
    assert row.tot == sum(i % 7 for i in range(100))
    assert out.count() == 100


# query -> the fact-scale ordering column whose window must be
# range-parallelized (tiny summary/offset windows may stay one-task)
QUERIES = {
    "q_peak_concurrency": "us",
    "q_gini_spend": "cents",
    "q_sequence_gaps": "event_id",
    "q_ml_auc": "score",
    "q_lift_bands": "score",
    "q_skyline": "p_retailprice",
    "q_survival_hazard": "lifetime",
    "q_skew_profile": "cnt",
    "q_rfm_segments": "monetary",
    "q_rrf_fusion": "score_a",
}


@pytest.mark.parametrize("qname", sorted(QUERIES))
def test_ranged_mode_output_identical(spark, sf_dir, qname):
    import re

    build = REGISTRY[qname].builder
    base = sorted(map(str, build(spark, sf_dir).collect()))
    spark.conf.set(RANGED_CONF, "true")
    try:
        swapped = sorted(map(str, build(spark, sf_dir).collect()))
        plan = physical_plan(build(spark, sf_dir))
    finally:
        spark.conf.unset(RANGED_CONF)
    assert base == swapped, qname
    # round 11: the ranged plan buckets by LITERAL quantile bounds (a
    # deterministic pid column) instead of repartitionByRange +
    # spark_partition_id — the sampled-exchange form could draw
    # DIFFERENT boundaries in the window and offsets subtrees under AQE
    # (measured wrong answer on the skew fixture; functions/ordered.py
    # module docstring). So the plan carries hashpartitioning on the
    # pid, not rangepartitioning.
    assert "_w_pid" in plan, qname
    # (a final output orderBy may still range-partition its own small
    # result — q_skyline does; the fact-table windows are what matter,
    # and the per-spec _w_pid checks below pin those.)
    # every window ordered on the fact column must be partitioned by the
    # bucket pid — the one-task global sort over the big table is gone;
    # the remaining SinglePartition exchanges carry only per-partition
    # summaries / scalars
    col = QUERIES[qname]
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    fact_specs = [s for s in specs if re.search(rf"\b{col}#\d+", s)]
    assert fact_specs, (qname, specs)
    for s in fact_specs:
        assert "_w_pid" in s, (qname, s)


# ---------------------------------------------------------------------------
# Round 11: edge cases of the literal-bounds bucket assignment
# (_with_pid replaced spark_partition_id-over-sampled-exchange after a
# measured boundary-divergence wrong answer — functions/ordered.py).
# ---------------------------------------------------------------------------


def test_running_agg_desc_with_nulls_lands_nulls_last(spark, ranged):
    """Under a DESC primary order Spark puts NULLs LAST; the bucket pid
    must send NULL rows to the last bucket or the offsets stitch would
    add them to the wrong prefix."""
    rows = [(float(k),) for k in range(300)] + [(None,), (None,)]
    df = spark.createDataFrame(rows, "v double").withColumn(
        "one", F.lit(1)
    )
    got = [
        (r.v, r.rs)
        for r in running_sum(df, [("v", False)], F.col("one"), "rs").collect()
    ]
    # global desc order: 299.0 .. 0.0 then the two NULLs
    by_v = {v: rs for v, rs in got if v is not None}
    for i, v in enumerate(sorted(by_v, reverse=True), start=1):
        assert by_v[v] == i, (v, by_v[v], i)
    null_rs = sorted(rs for v, rs in got if v is None)
    assert null_rs == [301, 302], null_rs


def test_running_sum_all_equal_primary_single_bucket(spark, ranged):
    """A fully-tied primary collapses every quantile bound to one value
    → zero usable bounds → the plan degrades to a single bucket and
    must still be exact (ties ordered by the secondary key)."""
    rows = [(7, i, 1) for i in range(100)]
    df = spark.createDataFrame(rows, "k int, tie int, n int")
    got = {
        r.tie: r.rs
        for r in running_sum(df, ["k", "tie"], F.col("n"), "rs").collect()
    }
    assert got == {i: i + 1 for i in range(100)}


def test_running_sum_values_exactly_at_bounds(spark, ranged):
    """Rows whose primary equals a quantile bound must all land on ONE
    side (strict > / < comparisons) — a split tie-group would break the
    local-window + offset stitch. Heavy repetition guarantees several
    quantiles land exactly on tied values."""
    rows = [(k % 5, i) for i, k in enumerate(range(1000))]
    df = spark.createDataFrame(rows, "k int, uid int").withColumn("one", F.lit(1))
    out = running_sum(df, ["k", "uid"], F.col("one"), "rs").collect()
    want = {}
    for pos, (k, uid) in enumerate(sorted(rows), start=1):
        want[(k, uid)] = pos
    for r in out:
        assert r.rs == want[(r.k, r.uid)], ((r.k, r.uid), r.rs)


def test_with_pid_empty_input(spark, ranged):
    """Empty input → approxQuantile returns no bounds → single-bucket
    plan, no crash, empty output."""
    df = spark.createDataFrame([], "k int, n int")
    assert running_sum(df, ["k"], F.col("n"), "rs").collect() == []


def test_lag_over_rejects_descending_spec(spark):
    """lag_over's boundary stitch is written for ascending order (the
    previous bucket's MAX is the missing predecessor); a descending
    spec must be rejected, not silently mis-stitched."""
    from news_categorization_big_data_spark.functions.ordered import lag_over

    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="ascending order only"):
        lag_over(df, ("k", False), "prev")
