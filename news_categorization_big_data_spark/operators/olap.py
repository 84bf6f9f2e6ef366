"""Reusable OLAP operators backing plans/olap.py: deterministic grouped
mode and skyline (Pareto frontier) over arbitrary DataFrames.

Factored out of the query builders so property-based tests
(tests/test_properties.py) can drive them with generated frames and
check against brute-force Python semantics — the same pattern as
operators/dedup.py vs the jaccard brute-force property."""

from __future__ import annotations

from pyspark.sql import DataFrame
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
