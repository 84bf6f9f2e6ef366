"""Experimentation-suite checks (q_did_effect, q_cuped): internal
consistency, variance-reduction direction, and plan-shape pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.sources.tables import load_table


def test_did_identity_and_range(spark, sf_dir):
    r = REGISTRY["q_did_effect"].builder(spark, sf_dir).first()
    assert r["did"] == (r["t_post"] - r["t_pre"]) - (r["c_post"] - r["c_pre"])
    lo, hi = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .agg(F.min("value"), F.max("value"))
        .first()
    )
    for cell in ("t_pre", "t_post", "c_pre", "c_post"):
        assert lo <= r[cell] <= hi, (cell, r[cell])
    # hash arms on a no-effect log: the DiD point estimate is noise
    # around zero, far inside the value range
    assert abs(r["did"]) < (hi - lo)


def test_did_single_pass(registry_plans):
    # one conditional-aggregate pass: the events scan appears once
    plan = registry_plans["q_did_effect"].plan
    assert plan.count("events.parquet") <= 1, plan


def test_cuped_variance_reduction_and_bounds(spark, sf_dir):
    rows = REGISTRY["q_cuped"].builder(spark, sf_dir).collect()
    assert len(rows) == 2 and {r["arm"] for r in rows} == {0, 1}
    for r in rows:
        assert r["n_users"] >= 2
        assert r["var_post"] >= 0 and r["var_adj"] >= 0
        # pooled theta minimizes POOLED adjusted variance; per-arm it
        # can exceed raw variance only by estimation noise
        assert r["var_adj"] <= r["var_post"] * 1.05 + 1e-9, r
        # adjusting by a centered covariate moves the mean by a bounded
        # amount: |mean_adj - mean_post| = |theta| * |arm pre-mean - mu|
        assert abs(r["mean_adj"] - r["mean_post"]) < abs(r["theta"]) * 1e5 + 1e-9


def test_cuped_theta_shared_across_arms(spark, sf_dir):
    rows = REGISTRY["q_cuped"].builder(spark, sf_dir).collect()
    assert rows[0]["theta"] == rows[1]["theta"]  # pooled fit, not per-arm


def test_experiment_readout_brute_force(spark, sf_dir):
    """Pure-Python recompute of the whole readout from raw parquet."""
    import hashlib
    import math
    from collections import defaultdict
    from fractions import Fraction

    import duckdb

    ev = duckdb.sql(
        f"""SELECT user_id, epoch_us(ts), value
            FROM '{sf_dir}/events.parquet' WHERE value IS NOT NULL"""
    ).fetchall()
    cut_us = duckdb.sql(
        "SELECT epoch_us(TIMESTAMP '2024-01-16 00:00:00')"
    ).fetchone()[0]
    pre = defaultdict(lambda: [0, 0])
    post = defaultdict(lambda: [0, 0])
    for uid, tus, v in ev:
        cents = int((Fraction(str(v)) * 100 + Fraction(1, 2)).__floor__())
        tgt = post if tus >= cut_us else pre
        tgt[uid][0] += cents
        tgt[uid][1] += 1
    arms = defaultdict(list)
    for uid in set(pre) & set(post):
        x = pre[uid][0] // pre[uid][1]
        y = post[uid][0] // post[uid][1]
        arm = int(hashlib.md5(f"exp:{uid}".encode()).hexdigest()[:15], 16) % 2
        arms[arm].append((x, y))
    n0, n1 = len(arms[0]), len(arms[1])
    r = REGISTRY["q_experiment_readout"].builder(spark, sf_dir).first()
    assert (r["n_a"], r["n_b"]) == (n0, n1)
    assert r["n_users"] == n0 + n1
    nn = n0 + n1
    chi2 = (n0 - nn * 0.5) ** 2 / (nn * 0.5) + (n1 - nn * 0.5) ** 2 / (
        nn * 0.5
    )
    assert abs(r["chi2_srm"] - chi2) < 1e-9
    # raw Welch t from the user metrics (float-assoc slack only)
    def stats(rows):
        ys = [y for _, y in rows]
        m = sum(ys) / len(ys)
        var = sum((y - m) ** 2 for y in ys) / (len(ys) - 1)
        return m, var

    m0, v0 = stats(arms[0])
    m1, v1 = stats(arms[1])
    t_raw = (m0 - m1) / math.sqrt(v0 / n0 + v1 / n1)
    assert abs(r["t_raw"] - t_raw) < 1e-6
    assert 0.0 < r["var_refund"] <= 1.2
    # no true effect in a hash split: both t's are noise around 0
    assert abs(r["t_raw"]) < 6 and abs(r["t_cuped"]) < 6


def test_embedding_dim_stats_brute_force(spark, sf_dir):
    """Exact integer brute force over the raw embedding arrays."""
    import math

    import duckdb

    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    dims = {}
    for (emb,) in rows:
        for pos, val in enumerate(emb):
            vm = math.floor(float(val) * 1_000_000)
            n, sx, sxx, lo, hi = dims.get(pos, (0, 0, 0, None, None))
            dims[pos] = (
                n + 1,
                sx + vm,
                sxx + vm * vm,
                vm if lo is None else min(lo, vm),
                vm if hi is None else max(hi, vm),
            )
    got = {
        r["dim"]: r
        for r in REGISTRY["q_embedding_dim_stats"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(dims)
    for pos, (n, sx, sxx, lo, hi) in dims.items():
        r = got[pos]
        assert r["n"] == n and r["min_micro"] == lo and r["max_micro"] == hi
        # both engines' integer division truncates toward zero (Spark
        # div == DuckDB //); Python // floors, so truncate explicitly
        trunc_mean = -((-sx) // n) if sx < 0 else sx // n
        assert r["mean_micro"] == trunc_mean
        # variance numerator >= 0 by Cauchy-Schwarz: floor == trunc
        want_var = (n * sxx - sx * sx) // (n * (n - 1))
        assert r["var_micro2"] == want_var
        assert abs(r["std"] - math.sqrt(want_var) / 1_000_000) < 1e-12


def test_survival_hazard_invariants(spark, sf_dir):
    rows = sorted(
        REGISTRY["q_survival_hazard"].builder(spark, sf_dir).collect(),
        key=lambda r: r["age_days"],
    )
    assert rows
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    # at_risk at age 0 is EVERY user; monotone nonincreasing in age
    assert rows[0]["age_days"] >= 0
    assert max(r["at_risk"] for r in rows) == n_users
    risks = [r["at_risk"] for r in rows]
    assert risks == sorted(risks, reverse=True)
    total_deaths = sum(r["deaths"] for r in rows)
    assert 0 <= total_deaths < n_users  # censored users never counted dead
    for r in rows:
        assert 0 <= r["deaths"] <= r["at_risk"]
        assert r["hazard_ppm"] == r["deaths"] * 1_000_000 // r["at_risk"]
