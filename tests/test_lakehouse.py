"""Property tests for the lakehouse/table-maintenance tier
(plans/lakehouse.py): recursive hierarchy closure, Bloom-join
losslessness + physical shape, CDC tombstone semantics, zone-map
pruning SOUNDNESS (a skipped block must contain zero matching rows),
interval-coverage vs a brute-force Python merge, and calendar-spine
completeness. The DuckDB hash parity for each runs in
test_oracle_parity.py; these tests pin the semantic claims the oracle
alone can't express."""

from __future__ import annotations

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.lakehouse import (
    BLOOM_MIN_TOTALPRICE,
    BLOOM_PROBES,
    COVERAGE_WINDOW_US,
    RECURSIVE_FANOUT,
    ZONE_BLOCK_KEYS,
    ZONE_PRED_HI,
    ZONE_PRED_LO,
)
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts


# -- q_sql_recursive --------------------------------------------------------


def test_recursive_closure_matches_arithmetic(spark, sf_dir):
    """Every part resolves to the root its key arithmetic dictates, at
    the depth the repeated division dictates; exactly one row per part."""
    rows = {r.p_partkey: r for r in REGISTRY["q_sql_recursive"].builder(spark, sf_dir).collect()}
    n_parts = load_table(spark, sf_dir, "part").count()
    assert len(rows) == n_parts
    for key in list(rows)[:: max(1, len(rows) // 25)]:
        node, depth = key, 0
        while node >= RECURSIVE_FANOUT:
            node //= RECURSIVE_FANOUT
            depth += 1
        assert rows[key].root == node and rows[key].depth == depth, key
    assert all(r.root < RECURSIVE_FANOUT for r in rows.values())


# -- q_bloom_join -----------------------------------------------------------


def test_bloom_join_equals_plain_semi_join(spark, sf_dir):
    """Losslessness end-to-end: the Bloom-prefiltered + verified result
    must equal the plain exact semi join's aggregate."""
    got = {
        r.l_returnflag: (r.n_items, float(r.sum_price))
        for r in REGISTRY["q_bloom_join"].builder(spark, sf_dir).collect()
    }
    keys = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > BLOOM_MIN_TOTALPRICE)
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: (r.n_items, float(r.sum_price))
        for r in li.join(keys, li.l_orderkey == keys.o_orderkey, "semi")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .collect()
    }
    assert got == plain


def test_bloom_prefilter_joins_are_all_broadcast(registry_plans):
    """The three per-probe bitmap joins must be broadcast (map-only on
    the fact side) — a shuffled bitmap join would defeat the operator's
    purpose at scale."""
    plan = registry_plans["q_bloom_join"].plan
    assert plan.count("BroadcastHashJoin") >= BLOOM_PROBES


# -- q_cdc_apply ------------------------------------------------------------


def test_cdc_tombstoned_users_absent_and_values_match_log_tail(spark, sf_dir):
    out = {r.user_id: r for r in REGISTRY["q_cdc_apply"].builder(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    tail = {
        r.user_id: r
        for r in ev.orderBy("user_id", "ts", "event_id").collect()
    }  # dict keeps the LAST row per user (insertion order, later wins)
    for uid, last in tail.items():
        if last.event_type == "error":
            assert uid not in out, f"tombstoned user {uid} survived"
        else:
            assert uid in out and out[uid].last_value == last.value, uid
    assert set(out) <= set(tail)


# -- q_zone_map -------------------------------------------------------------


def test_zone_map_pruning_is_sound_and_counts_total(spark, sf_dir):
    """A block the zone map says to skip must contain ZERO rows matching
    the range predicate (skipping is only legal if provably empty), and
    the per-block counts must account for every lineitem row."""
    blocks = REGISTRY["q_zone_map"].builder(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    assert sum(b.n_rows for b in blocks) == li.count()
    lo = F.lit(f"{ZONE_PRED_LO} 00:00:00").cast("timestamp")
    hi = F.lit(f"{ZONE_PRED_HI} 00:00:00").cast("timestamp")
    skipped = [b.block_id for b in blocks if not b.would_scan]
    matching_in_skipped = (
        li.where(
            ((F.col("l_orderkey") / ZONE_BLOCK_KEYS).cast("long").isin(skipped))
            & (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") <= hi)
        ).count()
        if skipped
        else 0
    )
    assert matching_in_skipped == 0
    # the testdata's unclustered shipdates must leave SOME blocks scanned
    assert any(b.would_scan for b in blocks)


# -- q_interval_coverage ----------------------------------------------------


def test_interval_coverage_matches_python_merge(spark, sf_dir):
    got = {
        r.user_id: (r.covered_us, r.n_islands)
        for r in REGISTRY["q_interval_coverage"].builder(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("s")
    )
    by_user: dict = {}
    for r in ev.collect():
        by_user.setdefault(r.user_id, []).append(r.s)
    for uid, starts in by_user.items():
        starts.sort()
        covered, islands, cur_s, cur_e = 0, 0, None, None
        for s in starts:
            e = s + COVERAGE_WINDOW_US
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                islands += 1
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += cur_e - cur_s
        assert got[uid] == (covered, islands), uid
    assert set(got) == set(by_user)


# -- q_date_dim -------------------------------------------------------------


def test_date_dim_spine_complete_and_dow_consistent(spark, sf_dir):
    rows = sorted(
        REGISTRY["q_date_dim"].builder(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    li = load_table(spark, sf_dir, "lineitem")
    span = li.agg(
        F.min(F.col("l_shipdate").cast("date")).alias("lo"),
        F.max(F.col("l_shipdate").cast("date")).alias("hi"),
    ).collect()[0]
    assert len(rows) == (span.hi - span.lo).days + 1
    assert rows[0].day == span.lo.isoformat() and rows[-1].day == span.hi.isoformat()
    for r in rows[:: max(1, len(rows) // 30)]:
        d = datetime.date.fromisoformat(r.day)
        # python weekday(): 0=Monday; query dow: 0=Sunday
        assert r.dow == (d.weekday() + 1) % 7, r.day
        assert r.is_weekend == (r.dow in (0, 6))
        assert (r.yr, r.mth) == (d.year, d.month)
        assert r.qtr == (d.month - 1) // 3 + 1


# -- q_snapshot_diff --------------------------------------------------------


def test_snapshot_diff_statuses_consistent_with_append_only(spark, sf_dir):
    """Append-only source: no key may ever be 'removed' (old without
    new); changed keys must strictly grow; unchanged keys must match on
    both metrics."""
    rows = REGISTRY["q_snapshot_diff"].builder(spark, sf_dir).collect()
    assert all(r.new_n is not None for r in rows), "append-only ⇒ no removals"
    for r in rows:
        if r.status == "added":
            assert r.old_n is None
        elif r.status == "changed":
            assert r.new_n > r.old_n
        else:
            assert r.status == "unchanged"
            assert (r.old_n, r.old_spend) == (r.new_n, r.new_spend)
    from news_categorization_big_data_spark.plans.lakehouse import SNAPSHOT_T2

    o = load_table(spark, sf_dir, "orders")
    n_keys_t2 = (
        o.where(F.col("o_orderdate") < F.lit(f"{SNAPSHOT_T2} 00:00:00").cast("timestamp"))
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert len(rows) == n_keys_t2


# -- q_sequence_gaps --------------------------------------------------------


def test_sequence_gaps_partition_the_missing_ids(spark, sf_dir):
    """The reported gap ranges must exactly equal the set of absent ids
    between the filtered stream's min and max id."""
    gaps = REGISTRY["q_sequence_gaps"].builder(spark, sf_dir).collect()
    present = sorted(
        r.event_id
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select("event_id")
        .collect()
    )
    missing = set(range(present[0], present[-1] + 1)) - set(present)
    reported = set()
    for g in gaps:
        assert g.gap_len == g.gap_end - g.gap_start + 1 > 0
        reported |= set(range(g.gap_start, g.gap_end + 1))
    assert reported == missing


# -- physical-plan pins for the round-5 lakehouse tier ----------------------


def test_lakehouse_tier_exchange_counts_pinned(registry_plans):
    """Shuffle budgets the tier's docs claim, pinned: CDC and the
    interval sweep ride ONE key exchange (windows + aggregates share the
    partitioning); the sequence-gap lag is one global-window exchange;
    the snapshot diff pays exactly its two grouped aggregates (the
    full-outer join is co-partitioned and adds none)."""
    budgets = {
        "q_interval_coverage": {"hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1},
        "q_cdc_apply": {"hashpartitioning(user_id)/ENSURE_REQUIREMENTS": 1},
        "q_sequence_gaps": {"SinglePartition/ENSURE_REQUIREMENTS": 1},
        "q_snapshot_diff": {"hashpartitioning(o_custkey)/ENSURE_REQUIREMENTS": 2},
    }
    for name, kinds in budgets.items():
        plan = registry_plans[name].plan
        assert exchange_counts(plan) == kinds, (name, plan)


# -- q_geo_grid_join --------------------------------------------------------


def test_geo_grid_join_matches_bruteforce(spark, sf_dir):
    """Grid bucketing must be lossless: the 3x3-block candidates +
    exact verify equal the brute-force all-pairs distance join, with
    each pair reported exactly once."""
    from news_categorization_big_data_spark.functions.hashing import hash60
    from news_categorization_big_data_spark.plans.lakehouse import (
        GEO_COORD_MOD,
        GEO_POINT_TYPE,
        GEO_RADIUS_TENTHS,
    )

    pts = {
        r.event_id: (r.x, r.y)
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == GEO_POINT_TYPE)
        .select(
            "event_id",
            (hash60(F.col("event_id").cast("string"), seed="gx") % GEO_COORD_MOD).alias("x"),
            (hash60(F.col("event_id").cast("string"), seed="gy") % GEO_COORD_MOD).alias("y"),
        )
        .collect()
    }
    ids = sorted(pts)
    r2 = GEO_RADIUS_TENTHS * GEO_RADIUS_TENTHS
    brute = {
        (a, b): (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2 <= r2
    }
    rows = REGISTRY["q_geo_grid_join"].builder(spark, sf_dir).collect()
    got = {(r.event_a, r.event_b): r.dist2 for r in rows}
    assert len(rows) == len(got), "a pair was emitted more than once"
    assert got == brute


def test_interval_sweep_handles_duplicate_timestamps(spark):
    """The island sweep must stay correct when two events share a
    timestamp (the non-unique (s, e) ordering hazard): co-timed
    intervals belong to ONE island, and coverage is the merged union —
    exercised on a hand-built log the testdata's µs timestamps never
    produce."""
    from news_categorization_big_data_spark.plans.lakehouse import (
        COVERAGE_WINDOW_US,
    )

    w = COVERAGE_WINDOW_US
    rows = [
        # user 1: twin events at t=0, a bridged event, then a gap
        (1, 0, 10),
        (1, 0, 11),
        (1, w // 2, 12),
        (1, 3 * w, 13),
        # user 2: three co-timed twins only
        (2, 5, 20),
        (2, 5, 21),
        (2, 5, 22),
    ]
    iv = spark.createDataFrame(
        [(u, s, s + w, eid) for u, s, eid in rows],
        "user_id long, s long, e long, event_id long",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_cum).alias("island")
    )
    got = {
        r.user_id: (r.covered, r.n)
        for r in isl.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("covered"), F.count("*").alias("n"))
        .collect()
    }
    assert got == {1: (w + w // 2 + w, 2), 2: (w, 1)}
