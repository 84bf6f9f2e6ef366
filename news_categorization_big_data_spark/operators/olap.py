"""Reusable OLAP operators backing plans/olap.py: deterministic grouped
mode and skyline (Pareto frontier) over arbitrary DataFrames.

Factored out of the query builders so property-based tests
(tests/test_properties.py) can drive them with generated frames and
check against brute-force Python semantics — the same pattern as
operators/dedup.py vs the jaccard brute-force property."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def grouped_mode(df: DataFrame, key: str, value: str) -> DataFrame:
    """Per-``key`` modal ``value`` with deterministic ties (smallest
    value wins). Output: (key, mode_<value>, n) — one row per key.

    Shape: one (key, value) count shuffle (partial+final), then a
    ranked window over the COUNT OUTPUT (≤ |value domain| rows per
    key), never over raw rows.
    """
    counts = df.groupBy(key, value).agg(F.count("*").alias("n"))
    w = Window.partitionBy(key).orderBy(F.desc("n"), value)
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(key, F.col(value).alias(f"mode_{value}"), F.col("n").alias("n"))
    )


def skyline_min_max(df: DataFrame, minimize: str, maximize: str) -> DataFrame:
    """Rows not dominated under (minimize ↓, maximize ↑): a row survives
    iff no other row is ≤ on ``minimize`` and ≥ on ``maximize`` with at
    least one strict. Equal-(min,max) co-frontier duplicates all
    survive.

    Shape: aggregate to one row per distinct ``minimize`` value (best
    ``maximize``), running-max window over that ordered aggregate, then
    a broadcast join back — the single-partition window sees only
    |distinct minimize values| rows, never the input.
    """
    m, x = F.col(minimize), F.col(maximize)
    per_key = df.groupBy(minimize).agg(F.max(x).alias("_best"))
    # exclusive running max (ROWS frame ending one row back) over the
    # pre-aggregated table of distinct minimize values
    frontier = (
        per_key.withColumn(
            "_prev",
            F.max("_best").over(
                Window.orderBy(minimize).rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .where(F.col("_prev").isNull() | (F.col("_best") > F.col("_prev")))
        .select(F.col(minimize).alias("_sky_key"), F.col("_best"))
    )
    joined = df.join(
        F.broadcast(frontier),
        (m == F.col("_sky_key")) & (x == F.col("_best")),
    )
    return joined.drop("_sky_key", "_best")


def dominance_check(points: list[tuple], sky: list[tuple]) -> bool:
    """Brute-force O(n²) skyline oracle used by tests: True iff ``sky``
    is exactly the non-dominated subset of ``points`` (multiset)."""
    expected = sorted(
        p
        for p in points
        if not any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
            for q in points
        )
    )
    return sorted(sky) == expected


def sliding_distinct_hll(
    events,
    days: int = 7,
    ts_col: str = "ts",
    id_col: str = "user_id",
    lg_k: int = 14,
):
    """Approximate sliding-window distinct count via mergeable per-day
    HLL sketches — the documented extreme-scale swap for
    q_sliding_distinct (plans/warehouse.py): where the exact form
    shuffles days×|user-days| rows, this shuffles days×|days| SKETCHES
    (a few KB each), so window count and corpus size drop out of the
    shuffle volume entirely.

    Shape: one per-day sketch aggregate over the raw events (the only
    data-sized pass, map-side combinable), then each day's sketch
    replicates into the ``days`` windows it serves and merges with
    hll_union_agg — the mergeability that makes HLL the right 100-TB
    state, and exactly the merge no exact distinct state supports.
    Returns (win_start, n_users_approx). Standard HLL error ≈
    1.04/√2^lg_k (~0.8% at the default), asserted against the exact
    operator in tests.
    """
    from pyspark.sql import functions as F

    per_day = (
        events.select(F.to_date(ts_col).alias("d"), F.col(id_col))
        .groupBy("d")
        .agg(F.hll_sketch_agg(id_col, F.lit(lg_k)).alias("sk"))
    )
    # day d serves windows starting in [d-(days-1), d] — the same
    # replication direction as the exact operator
    windows = per_day.select(
        F.explode(
            F.sequence(F.date_sub("d", days - 1), F.col("d"))
        ).alias("w"),
        "sk",
    )
    return (
        windows.groupBy(F.date_format("w", "yyyy-MM-dd").alias("win_start"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_users_approx"))
    )
