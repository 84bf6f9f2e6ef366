"""Order-statistics extensions (round 5): weighted median and exact
rolling median — the two exact-order-statistic shapes the robust tier
(q_mad_outliers, q_winsorize — exact order stats; q_quantile_sketch —
mergeable approximation) did not yet cover: WEIGHTED selection and
SLIDING-frame selection.

House determinism rules: weights accumulate as exact DECIMAL so the
2·cumw ≥ total selection boundary cannot flip on float error; the
rolling median's even-count interpolation is written with identical
association ((lo + hi) / 2.0) in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table


@register(
    "q_weighted_median",
    oracle="""
    WITH o AS (SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
                      SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                        PARTITION BY l_returnflag
                        ORDER BY l_extendedprice, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
                      SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                        PARTITION BY l_returnflag) AS tot
               FROM lineitem),
    q AS (SELECT l_returnflag, l_extendedprice, tot,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice, l_orderkey,
                                             l_linenumber) AS rn
          FROM o WHERE 2 * cumw >= tot)
    SELECT l_returnflag, l_extendedprice AS wmedian,
           CAST(tot AS DOUBLE) AS total_weight
    FROM q WHERE rn = 1
    """,
    tier="B",
    doc="Weighted median of l_extendedprice per return flag, weighted by "
    "l_quantity — the inventory-weighted 'typical price' robust to both "
    "outlier prices AND outlier quantities (a plain median treats a "
    "1-unit and a 50-unit line identically). Definition: the smallest "
    "price at which the cumulative weight reaches half the total "
    "(lower weighted median). Plan: ONE per-flag sort serves both "
    "windows (running cumw and the partition total — same "
    "partitioning+ordering, Catalyst evaluates them in a single Window "
    "node), then the first qualifying row per flag; the qualifying set "
    "is a suffix of the sort order (weights are positive, cumw is "
    "monotone), so rn=1 is the boundary row. Determinism: weights "
    "accumulate as exact DECIMAL(18,2) and the 2·cumw ≥ total "
    "comparison is decimal-exact — no float sum can flip the boundary; "
    "(price, orderkey, linenumber) is a unique total order. Scale: one "
    "shuffle + per-flag spillable sort. A flag whose rows exceed one "
    "executor's sort budget would need two passes over a per-flag "
    "VALUE HISTOGRAM (weight sums per price bucket, then an exact scan "
    "of the boundary bucket only); no such path is built.",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    order = [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_returnflag")
    wq = F.col("l_quantity").cast("decimal(18,2)")
    o = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.sum(wq).over(w_cum).alias("cumw"),
        F.sum(wq).over(w_tot).alias("tot"),
    )
    w_rn = Window.partitionBy("l_returnflag").orderBy(*order)
    q = o.where(F.lit(2) * F.col("cumw") >= F.col("tot")).withColumn(
        "rn", F.row_number().over(w_rn)
    )
    return q.where(F.col("rn") == 1).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("wmedian"),
        F.col("tot").cast("double").alias("total_weight"),
    )


#: Rolling-median frame: current row plus the 6 preceding (7-row window).
ROLLING_MEDIAN_FRAME = 7


@register(
    "q_rolling_median",
    oracle=f"""
    -- FILTER (value IS NOT NULL): DuckDB's list() KEEPS nulls where
    -- Spark's collect_list skips them — on null-free data the two
    -- agree silently; /tmp/skew4 exposed the divergence. The explicit
    -- semantic on both sides: median of the frame's NON-NULL values,
    -- NULL when the frame has none (len(NULL list) is NULL → the
    -- n = 0/NULL guard).
    WITH w AS (SELECT event_id, event_type,
                      list(value) FILTER (value IS NOT NULL)
                        OVER (PARTITION BY event_type
                              ORDER BY ts, event_id
                              ROWS BETWEEN {ROLLING_MEDIAN_FRAME - 1}
                              PRECEDING AND CURRENT ROW) AS vals
               FROM events),
    s AS (SELECT event_id, event_type, list_sort(vals) AS sv,
                 CAST(COALESCE(len(vals), 0) AS INT) AS n
          FROM w)
    SELECT event_id, event_type,
           CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE)
                WHEN n % 2 = 1 THEN sv[CAST((n + 1) / 2 AS INT)]
                ELSE (sv[CAST(n / 2 AS INT)] + sv[CAST(n / 2 AS INT) + 1]) / 2.0
           END AS roll_med
    FROM s
    """,
    tier="B",
    doc=f"Exact rolling median of `value` over the trailing "
    f"{ROLLING_MEDIAN_FRAME}-row frame per event type — the robust "
    "denoiser for monitoring series (q_ewma_smooth's mean-based "
    "smoothing chases spikes; a rolling median ignores them entirely "
    "until they persist for frame/2 rows). Plan: one per-type window "
    "sort; the frame materializes as a bounded array per row "
    "(collect_list over a ROWS frame), sorted and indexed — per-row "
    f"cost O(w log w) with w={ROLLING_MEDIAN_FRAME}, constant. "
    "Determinism: (ts, event_id) is a unique order; the frame CONTENT "
    "is therefore exact, the in-frame sort makes collect order "
    "irrelevant, and the even-count interpolation (lo + hi) / 2.0 is "
    "associated identically in both engines (warm-up rows with n < "
    f"{ROLLING_MEDIAN_FRAME} use their true shorter frame, same rule). "
    "Scale: state per row is the w-element frame — independent of "
    "partition size; the per-type sort is the only super-linear term "
    "and is the same sort every windowed query over the series "
    "already pays. For large w the documented swap is a pair of "
    "sliding heaps via applyInPandasWithState (streaming) or an "
    "indexability-preserving sketch — exact small-w frames never "
    "need it.",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLING_MEDIAN_FRAME - 1), 0)
    )
    s = ev.select(
        "event_id",
        "event_type",
        F.array_sort(F.collect_list("value").over(w)).alias("sv"),
        F.size(F.collect_list("value").over(w)).cast("int").alias("n"),
    )
    return s.select(
        "event_id",
        "event_type",
        # n = 0 → NULL (an all-null frame has no median): without the
        # guard the even branch indexes element_at(sv, 0) — an ANSI
        # hard error the /tmp/skew4 null fixture hit on real data
        # (p(all-7-null frame) ~ 0.2^7 still fires in 100k rows).
        # CASE branches evaluate lazily, so the guard is sufficient.
        F.expr(
            "CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE) "
            "WHEN n % 2 = 1 THEN element_at(sv, CAST((n + 1) / 2 AS INT)) "
            "ELSE (element_at(sv, CAST(n / 2 AS INT)) "
            "      + element_at(sv, CAST(n / 2 AS INT) + 1)) / 2.0 END"
        ).alias("roll_med"),
    )
