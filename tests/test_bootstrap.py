"""q_bootstrap_ci checks: pure-Python brute force (hashlib + exact
integer cents) recomputes all 40 Poisson resample means and the
rank-order CI; plan-shape pins for the one-pass scale claims."""

from __future__ import annotations

import hashlib
from collections import defaultdict
from fractions import Fraction

import duckdb

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.quality import (
    BOOT_B,
    BOOT_K_HI,
    BOOT_K_LO,
    BOOT_T,
)
from tests.conftest import exchange_counts


def _weight(b: int, event_id: int) -> int:
    dig = hashlib.md5(f"boot{b // 8}:{event_id}".encode()).hexdigest()
    lane = b % 8
    u16 = int(dig[4 * lane : 4 * lane + 4], 16)
    return sum(1 for t in BOOT_T if u16 >= t)


def test_bootstrap_ci_matches_python_brute_force(spark, sf_dir):
    ev = duckdb.sql(
        f"""SELECT event_type, event_id, value
            FROM '{sf_dir}/events.parquet' WHERE value IS NOT NULL"""
    ).fetchall()
    na = defaultdict(int)
    sa = defaultdict(int)  # exact integer cents
    for et, eid, v in ev:
        cents = int((Fraction(str(v)) * 100 + Fraction(1, 2)).__floor__())
        for b in range(BOOT_B):
            w = _weight(b, eid)
            na[(et, b)] += w
            sa[(et, b)] += w * cents
    means = defaultdict(list)
    for (et, b), n in na.items():
        if n > 0:
            means[et].append((sa[(et, b)] / 100 / n, b))
    want = {}
    for et, ms in means.items():
        ms.sort()
        want[et] = (
            len(ms),
            ms[BOOT_K_LO - 1][0],
            ms[BOOT_K_HI - 1][0],
        )
    got = {
        r["event_type"]: (r["n_resamples"], r["boot_lo"], r["boot_hi"])
        for r in REGISTRY["q_bootstrap_ci"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for et in want:
        n_w, lo_w, hi_w = want[et]
        n_g, lo_g, hi_g = got[et]
        assert n_g == n_w
        # brute force divides cents/100/n in a different association
        # than the engines' sa/na — allow float-assoc slack only
        assert abs(lo_g - lo_w) < 1e-9 and abs(hi_g - hi_w) < 1e-9, et


def test_bootstrap_ci_interval_sane(spark, sf_dir):
    rows = REGISTRY["q_bootstrap_ci"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_resamples"] == BOOT_B
        assert r["boot_lo"] <= r["boot_hi"], r


def test_bootstrap_ci_explode_collapses_before_wire(registry_plans):
    # the scale claim: the 40x explode is map-local; what crosses the
    # wire is partial-aggregated (types x B cells). A partial_sum must
    # appear BELOW the first exchange in the plan tree.
    plan = registry_plans["q_bootstrap_ci"].plan
    # cell agg + window keying: 3 hash exchanges, the fan_out of the
    # single-task scan and the broadcast per-type counts
    assert exchange_counts(plan) == {
        "hashpartitioning(event_type, b)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(event_type)/ENSURE_REQUIREMENTS": 2,
        "RoundRobinPartitioning/REPARTITION_BY_NUM": 1,
        "broadcast": 1,
    }, plan
    assert "partial_sum" in plan[plan.find("Exchange") :], plan


def test_bootstrap_md5_evaluates_per_group_not_per_lane(registry_plans):
    """Round-11 two-level explode: the resample digest must be computed
    once per (row, digest-group) — IN the projection between the two
    generators — never re-inlined into the per-lane projection (the 8x
    recomputation the rewrite removed; CollapseProject's non-cheap
    guard keeps it out, and this pins that against optimizer changes)."""
    import re

    plan = registry_plans["q_bootstrap_ci"].plan
    assert plan.count("md5(") == 1, plan.count("md5(")
    gens = [m.start() for m in re.finditer(r"Generate explode", plan)]
    assert len(gens) == 2, plan
    md5_pos = plan.index("md5(")
    # toString prints top-down: the LANE generate sits above the md5
    # projection, the GROUP generate below it.
    assert gens[0] < md5_pos < gens[1], (gens, md5_pos)
