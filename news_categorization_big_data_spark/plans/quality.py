"""Data-quality and experiment-analytics tier (round 5): expectation
suites, referential-integrity sweeps, A/B t-tests, equi-depth
histograms, and exponential-decay smoothing.

These are the checks a production pipeline runs BEFORE training data or
dashboards consume a table (the Deequ / Great Expectations surface) plus
two statistics a warehouse layers over event streams. House determinism
rules (plans/analytics.py): exact DECIMAL sums where reduction order
could matter, integer-exact counts, division/sqrt chains written with
IDENTICAL association on both engines (IEEE 754 ops on bit-identical
inputs are bit-identical), date strings not DATE outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
)
from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.plans.relational import (
    dsum,
    nonfinite,
    o_fin,
    o_poisoned,
    poisoned_flag,
)
from news_categorization_big_data_spark.sources.tables import load_table

#: Allowed order-status domain for the q_dq_checks domain expectation.
DQ_STATUS_DOMAIN = ("F", "O", "P")


@register(
    "q_dq_checks",
    oracle=f"""
    WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(COUNT(o_custkey) AS BIGINT) AS n_ck,
                      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_uk,
                      CAST(COUNT(CASE WHEN o_orderstatus IN
                             ('{DQ_STATUS_DOMAIN[0]}', '{DQ_STATUS_DOMAIN[1]}',
                              '{DQ_STATUS_DOMAIN[2]}') THEN 1 END) AS BIGINT) AS n_dom,
                      MIN(o_totalprice) AS min_price
               FROM orders),
    r AS (SELECT CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
                      AS BIGINT) AS n_orph
          FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT * FROM (
      SELECT 'row_count' AS check_name,
             CAST(n AS DOUBLE) AS metric, n > 0 AS passed FROM a
      UNION ALL
      SELECT 'completeness_custkey', CAST(n_ck AS DOUBLE) / n, n_ck = n FROM a
      UNION ALL
      SELECT 'uniqueness_orderkey', CAST(n_uk AS DOUBLE) / n, n_uk = n FROM a
      UNION ALL
      SELECT 'domain_orderstatus', CAST(n_dom AS DOUBLE) / n, n_dom = n FROM a
      UNION ALL
      SELECT 'min_totalprice_positive', min_price, min_price > 0 FROM a
      UNION ALL
      SELECT 'referential_custkey',
             1.0 - CAST(n_orph AS DOUBLE) / (SELECT n FROM a),
             n_orph = 0 FROM r
    )
    """,
    tier="C",
    doc="Data-quality expectation suite over `orders` (the Deequ / Great "
    "Expectations pattern): row count, column completeness, key "
    "uniqueness, value-domain conformance, range sanity, and "
    "referential integrity against `customer`, emitted as one "
    "(check_name, metric, passed) report. Plan: every single-table "
    "metric comes from ONE conditional-aggregate scan (no per-check "
    "passes — at 100 TB you cannot afford six scans), the referential "
    "check is a key-projected left join (AQE broadcasts the dimension "
    "side), and the six report rows are dimension-sized selects over "
    "those two 1-row aggregates. Determinism: every metric is a ratio "
    "of exact BIGINT counts (single division → bit-identical doubles) "
    "or a MIN over identical doubles; `passed` compares integers. "
    "Scale: metric state is O(1) per check; COUNT(DISTINCT) is the one "
    "two-phase term (documented swap: HLL/bitmap sketch — "
    "q_hll_distinct / q_bitmap_distinct machinery — when the exact "
    "distinct shuffle dominates).",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    a = orders.agg(
        F.count("*").alias("n"),
        F.count("o_custkey").alias("n_ck"),
        F.countDistinct("o_orderkey").alias("n_uk"),
        F.count(
            F.when(F.col("o_orderstatus").isin(*DQ_STATUS_DOMAIN), 1)
        ).alias("n_dom"),
        F.min("o_totalprice").alias("min_price"),
    )
    r = (
        orders.select("o_custkey")
        .join(cust, orders.o_custkey == cust.c_custkey, "left")
        .agg(F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_orph"))
    )
    # Six report rows over the two 1-row aggregates, built by EXPLODING
    # one struct array from the single joined row — NOT a 6-way
    # unionAll, which re-evaluates the whole aggregate subtree per
    # branch (measured: 13 parquet scans for a 6-row report; this form
    # scans orders twice + customer once at any scale).
    ar = a.crossJoin(F.broadcast(r))
    n = F.col("n").cast("double")
    # try_divide, not `/`: on an EMPTY orders shard n = 0, and the
    # ratio checks must degrade to NULL metrics exactly like the
    # oracle's x/0 (DuckDB: NULL) instead of raising ANSI
    # DIVIDE_BY_ZERO — the /tmp/skew6 empty-input finding.
    rows = [
        ("row_count", n, F.col("n") > 0),
        ("completeness_custkey", F.try_divide(F.col("n_ck").cast("double"), F.col("n")), F.col("n_ck") == F.col("n")),
        ("uniqueness_orderkey", F.try_divide(F.col("n_uk").cast("double"), F.col("n")), F.col("n_uk") == F.col("n")),
        ("domain_orderstatus", F.try_divide(F.col("n_dom").cast("double"), F.col("n")), F.col("n_dom") == F.col("n")),
        ("min_totalprice_positive", F.col("min_price"), F.col("min_price") > 0),
        ("referential_custkey", F.lit(1.0) - F.try_divide(F.col("n_orph").cast("double"), F.col("n")), F.col("n_orph") == 0),
    ]
    checks = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                metric.cast("double").alias("metric"),
                passed.alias("passed"),
            )
            for name, metric, passed in rows
        ]
    )
    return ar.select(F.explode(checks).alias("_c")).select("_c.*")


#: Foreign-key sweep relations: (label, child table, child key,
#: parent table, parent key).
FK_RELATIONS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
)


@register(
    "q_orphan_refs",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{label}' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(COUNT(CASE WHEN p.{pk} IS NULL THEN 1 END) AS BIGINT) AS n_orphans
    FROM {child} ch LEFT JOIN {parent} p ON ch.{ck} = p.{pk}
    """
        for label, child, ck, parent, pk in FK_RELATIONS
    ),
    tier="C",
    doc="Referential-integrity sweep across the star schema: for every "
    "declared foreign key, the child row count and the orphan count "
    "(child rows whose parent key does not exist) — the constraint "
    "check engines without enforced FKs (Spark, most lakehouses) must "
    "run as a query. Plan per relation: project BOTH sides to the key "
    "column only, LEFT join, conditional count — never an anti-join "
    "plus a second scan for the total. No broadcast hint: AQE picks "
    "broadcast for dimension parents (part/supplier/customer) and a "
    "key-only sort-merge join for the fact-fact lineitem→orders edge — "
    "which is exactly the right physical split at 100 TB, where orders "
    "keys do NOT fit in an executor. Keys are primary keys by schema "
    "contract (join cannot fan out). Output is 4 rows; all counts "
    "exact BIGINTs.",
)
def q_orphan_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for label, child, ck, parent, pk in FK_RELATIONS:
        ch = load_table(spark, sf_dir, child).select(ck)
        p = load_table(spark, sf_dir, parent).select(pk)
        row = (
            ch.join(p, ch[ck] == p[pk], "left")
            .agg(
                F.count("*").alias("n_child"),
                F.count(F.when(F.col(pk).isNull(), 1)).alias("n_orphans"),
            )
            .select(
                F.lit(label).alias("fk"),
                F.col("n_child"),
                F.col("n_orphans"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


#: Per-arm conditional sums (hoisted for o_dec_to_double; {{arm}} is the
#: user_id parity that defines the arm). The inner CASE is the o_fin
#: finite guard and _O_ARM_POIS the per-arm poison flag — a non-finite
#: value NULLs ITS arm's moment sums (dsum_fin contract, /tmp/skew7);
#: the other arm and the counts are untouched.
_O_ARM_VAL = "(CASE WHEN isfinite(value) THEN value END)"
_O_ARM_SUM = (
    "SUM(CASE WHEN user_id % 2 = {arm}"
    f" THEN CAST({_O_ARM_VAL} AS DECIMAL(18,2)) END)"
)
_O_ARM_SUMSQ = (
    "SUM(CASE WHEN user_id % 2 = {arm}"
    f" THEN CAST({_O_ARM_VAL} AS DECIMAL(18,2)) * CAST({_O_ARM_VAL} AS DECIMAL(18,2)) END)"
)
_O_ARM_POIS = (
    "(COUNT(CASE WHEN user_id % 2 = {arm}"
    " AND NOT isfinite(value) THEN 1 END) > 0)"
)


@register(
    "q_ab_ttest",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
                      CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_b,
                      CASE WHEN NOT {_O_ARM_POIS.format(arm=0)} THEN
                      {o_dec_to_double(_O_ARM_SUM.format(arm=0), 2)} END AS sa,
                      CASE WHEN NOT {_O_ARM_POIS.format(arm=1)} THEN
                      {o_dec_to_double(_O_ARM_SUM.format(arm=1), 2)} END AS sb,
                      CASE WHEN NOT {_O_ARM_POIS.format(arm=0)} THEN
                      {o_dec_to_double(_O_ARM_SUMSQ.format(arm=0), 4)} END AS qa,
                      CASE WHEN NOT {_O_ARM_POIS.format(arm=1)} THEN
                      {o_dec_to_double(_O_ARM_SUMSQ.format(arm=1), 4)} END AS qb
               FROM events GROUP BY event_type),
    m AS (SELECT event_type, n_a, n_b,
                 sa / n_a AS mean_a, sb / n_b AS mean_b,
                 ((qa - sa * sa / n_a) / (n_a - 1)) / n_a AS va_n,
                 ((qb - sb * sb / n_b) / (n_b - 1)) / n_b AS vb_n
          FROM s)
    SELECT event_type, n_a, n_b, mean_a, mean_b,
           (mean_a - mean_b) / sqrt(va_n + vb_n) AS t_stat,
           ((va_n + vb_n) * (va_n + vb_n))
             / (va_n * va_n / (n_a - 1) + vb_n * vb_n / (n_b - 1)) AS df_welch
    FROM m
    """,
    tier="B",
    doc="Welch's two-sample t-test per event type (the A/B experiment "
    "readout): arms assigned by user_id parity, per-arm mean, t "
    "statistic, and Welch–Satterthwaite degrees of freedom. Plan: ONE "
    "conditional-aggregate shuffle computes all six per-arm moment "
    "sums side-by-side (never one pass per arm); the closed forms run "
    "on the 5-row aggregate. Determinism: count/sum/sum-of-squares "
    "accumulate as exact DECIMAL(18,2)/(37,4) — the data's true 2-dp "
    "granularity, sized so every scaled sum stays under 2^53, where "
    "decimal→double conversion is correctly rounded in BOTH engines "
    "(see EWMA_HORIZON note) — "
    "the mean/variance/t/df chains are division, multiplication and "
    "sqrt on bit-identical doubles with the association order written "
    "IDENTICALLY in both engines — IEEE 754 basic ops and sqrt are "
    "correctly rounded, so the results match to the last ulp. Scale: "
    "per-group state is six numbers; the aggregate is map-side "
    "partial — this is the canonical 100-TB-safe experiment readout.",
)
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    arm_a, arm_b = F.col("user_id") % 2 == 0, F.col("user_id") % 2 == 1
    s = ev.groupBy("event_type").agg(
        F.count(F.when(arm_a, 1)).alias("n_a"),
        F.count(F.when(arm_b, 1)).alias("n_b"),
        # per-arm poison -> NULL (dsum_fin contract, /tmp/skew7): the
        # flag watches the RAW value through the same arm gate, since
        # dec already nulled non-finite at the decimal cast
        F.when(~poisoned_flag(F.when(arm_a, F.col("value"))), dsum(F.when(arm_a, dec), 2)).alias("sa"),
        F.when(~poisoned_flag(F.when(arm_b, F.col("value"))), dsum(F.when(arm_b, dec), 2)).alias("sb"),
        F.when(~poisoned_flag(F.when(arm_a, F.col("value"))), dsum(F.when(arm_a, dec * dec), 4)).alias("qa"),
        F.when(~poisoned_flag(F.when(arm_b, F.col("value"))), dsum(F.when(arm_b, dec * dec), 4)).alias("qb"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    m = s.select(
        "event_type",
        "n_a",
        "n_b",
        (F.col("sa") / n_a).alias("mean_a"),
        (F.col("sb") / n_b).alias("mean_b"),
        (((F.col("qa") - F.col("sa") * F.col("sa") / n_a) / (n_a - F.lit(1))) / n_a).alias("va_n"),
        (((F.col("qb") - F.col("sb") * F.col("sb") / n_b) / (n_b - F.lit(1))) / n_b).alias("vb_n"),
    )
    va_n, vb_n = F.col("va_n"), F.col("vb_n")
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(va_n + vb_n)).alias("t_stat"),
        (
            ((va_n + vb_n) * (va_n + vb_n))
            / (va_n * va_n / (n_a - F.lit(1)) + vb_n * vb_n / (n_b - F.lit(1)))
        ).alias("df_welch"),
    )


#: Equi-depth bucket count for q_equidepth_histogram.
EQUIDEPTH_BUCKETS = 8


@register(
    "q_equidepth_histogram",
    oracle=f"""
    -- value IS NOT NULL: a histogram profiles the non-null values
    -- (null_count is a separate statistic). Also load-bearing for
    -- cross-engine exactness: with NULLs in the order column Spark's
    -- default is ASC NULLS FIRST and DuckDB's is ASC NULLS LAST, so
    -- ntile bucketing diverges silently — /tmp/skew4 caught it; the
    -- explicit filter makes the default orderings coincide.
    WITH t AS (SELECT event_type, value,
                      ntile({EQUIDEPTH_BUCKETS}) OVER
                        (PARTITION BY event_type
                         ORDER BY value, event_id) AS bucket
               FROM events WHERE value IS NOT NULL)
    SELECT event_type, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS lo, MAX(value) AS hi
    FROM t GROUP BY event_type, bucket
    """,
    tier="B",
    doc=f"Equi-DEPTH histogram ({EQUIDEPTH_BUCKETS} equal-count buckets) "
    "of `value` per event type — the optimizer-statistics / "
    "data-profiling companion to q_value_histogram's equi-WIDTH "
    "buckets (equi-depth adapts bucket bounds to the distribution; "
    "equi-width can put 99% of rows in one bucket). Plan: one ntile "
    "window per type partition, then a (type, bucket) aggregate — the "
    "aggregate input is already reduced to one integer per row, and "
    "AQE coalesces the tiny second exchange. Determinism: ntile is "
    "fully determined by the total order; (value, event_id) is a "
    "unique sort key, so bucket assignment is identical across "
    "engines; bounds/counts exact. Scale: an exact ntile needs a "
    "per-type sort — fine while a type's rows fit a spillable sort.",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value IS NOT NULL — see the oracle note: profiles the non-null
    # values AND pins cross-engine ntile order (Spark NULLS FIRST vs
    # DuckDB NULLS LAST would silently diverge; /tmp/skew4).
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", "event_id")
        .withColumn("bucket", F.ntile(EQUIDEPTH_BUCKETS).over(w))
        .groupBy("event_type", F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


#: EWMA horizon (days) and binary-exact weights: a day d contributes to
#: day d+k (k in 0..HORIZON-1) with integer weight 2^(HORIZON-1-k); the
#: normalizer is their sum 2^HORIZON - 1. alpha = 1/2 decay, truncated.
#: The DECIMAL scale is 2 — the data's actual value granularity. The
#: weighted sum's scaled integer passes 2^53 once a daily grain sums
#: ~5·10^9 rows of in-domain values (the 100-TB shape), where DuckDB's
#: int128/10^scale decimal→double conversion and Spark's BigDecimal
#: conversion disagree in the last ulp (two roundings vs one — measured,
#: tests/test_overflow_bounds.py), so the conversion routes through
#: dec_to_double (functions/exact.py), engine-identical to 2^113.
EWMA_HORIZON = 24
EWMA_NORM = (1 << EWMA_HORIZON) - 1


@register(
    "q_ewma_smooth",
    oracle=f"""
    WITH daily AS (SELECT event_type,
                          CAST(date_trunc('day', ts) AS DATE) AS d,
                          -- o_fin + per-day poison flag: the poison
                          -- CASCADES through the decay horizon below
                          -- (dsum_fin contract, /tmp/skew7)
                          {o_poisoned('value')} AS pois,
                          CAST(SUM(CAST({o_fin('value')} AS DECIMAL(20,2)))
                               AS DECIMAL(20,2)) AS v
                   FROM events GROUP BY 1, 2),
    contrib AS (SELECT event_type, pois,
                       d + k * INTERVAL '1 day' AS target,
                       CAST(v * (1::BIGINT << ({EWMA_HORIZON} - 1 - k))
                            AS DECIMAL(38,2)) AS wv
                FROM daily, range({EWMA_HORIZON}) t(k)),
    s AS (SELECT c.event_type, c.target,
                 CASE WHEN NOT BOOL_OR(c.pois) THEN
                 {o_dec_to_double("SUM(c.wv)", 2)} END AS num
          FROM contrib c
          JOIN daily o ON o.event_type = c.event_type AND o.d = c.target
          GROUP BY 1, 2)
    SELECT event_type, strftime(target, '%Y-%m-%d') AS day,
           num / {EWMA_NORM}.0 AS ewma
    FROM s
    """,
    tier="B",
    doc=f"Exponential-decay smoothing (alpha=1/2, {EWMA_HORIZON}-day "
    "truncated horizon) of the daily value-sum per event type — the "
    "trend line a monitoring warehouse keeps next to every raw daily "
    "series. EWMA's textbook form is a RECURSION (s_t = αx_t + "
    "(1-α)s_{t-1}), which no distributed window computes; the "
    f"truncated form re-expresses it as a fixed {EWMA_HORIZON}-term "
    "weighted sum, which distributes: each daily grain EXPLODES into "
    f"the {EWMA_HORIZON} future days it contributes to with integer "
    f"weight 2^({EWMA_HORIZON - 1}-k) (the q_sliding_distinct shape), "
    "one aggregate sums contributions per target day, and an inner "
    "join back to the observed day spine drops targets past the "
    f"series end. Shuffle volume is {EWMA_HORIZON}×|day grains| — "
    "independent of raw event count. Determinism: weights are exact "
    "powers of two, the weighted sums accumulate as exact "
    "DECIMAL(38,2) — the data's true 2-dp granularity — convert to "
    "double via the engine-identical dec_to_double limb chain (see "
    "EWMA_HORIZON note; a direct cast hash-flips past 2^53) — and the single final "
    f"division by the constant normalizer {EWMA_NORM} happens in "
    "doubles on both engines. Missing days contribute zero (calendar "
    "decay, not row decay), matching monitoring semantics.",
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        # per-day poison flag — cascades through the horizon below
        poisoned_flag("value").alias("pois"),
        F.sum(F.col("value").cast("decimal(20,2)"))
        .cast("decimal(20,2)")
        .alias("v")
    )
    contrib = daily.select(
        "event_type",
        "d",
        "v",
        "pois",
        F.explode(F.sequence(F.lit(0), F.lit(EWMA_HORIZON - 1))).alias("k"),
    ).select(
        "event_type",
        "pois",
        F.date_add("d", F.col("k")).alias("target"),
        (F.col("v") * F.expr(f"shiftleft(1L, {EWMA_HORIZON - 1} - k)"))
        .cast("decimal(38,2)")
        .alias("wv"),
    )
    spine = daily.select("event_type", F.col("d").alias("target"))
    s = (
        contrib.join(spine, ["event_type", "target"])
        .groupBy("event_type", "target")
        # poison -> NULL: a target day's EWMA is NULL if ANY of its 24
        # contributing days saw a non-finite value (/tmp/skew7)
        .agg(F.when(~F.max("pois"), dsum("wv", 2)).alias("num"))
    )
    return s.select(
        "event_type",
        F.date_format("target", "yyyy-MM-dd").alias("day"),
        (F.col("num") / F.lit(float(EWMA_NORM))).alias("ewma"),
    )


#: Threshold below which `value` is nulled to synthesize a deterministic
#: null population for the conformance check (the testdata itself is
#: null-free).
NULL_SEMANTICS_CUTOFF = 5.0


@register(
    "q_null_semantics",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type,
                      CASE WHEN value < {NULL_SEMANTICS_CUTOFF} THEN NULL
                           ELSE value END AS v
               FROM events),
    r AS (SELECT event_type, event_id, v,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY v ASC NULLS LAST, event_id) AS rn
          FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           -- poison -> NULL average (o_fin keeps DuckDB's decimal cast
           -- reachable only for finite rows; /tmp/skew7)
           CASE WHEN NOT {o_poisoned('v')} THEN
           {o_dec_to_double(f"SUM(CAST({o_fin('v')} AS DECIMAL(18,2)))", 2)} / COUNT(v)
           END AS avg_nonnull,
           MIN(v) AS min_v, MAX(v) AS max_v,
           MAX(CASE WHEN rn = 1 THEN event_id END) AS first_id_nulls_last
    FROM r GROUP BY event_type
    """,
    tier="B",
    doc="NULL-semantics conformance sweep — the cross-engine trap "
    "catalog as one query, over a deterministically synthesized null "
    "population (values below a cutoff nulled; the testdata is "
    "null-free): COUNT(*) vs COUNT(col) (nulls counted vs skipped), "
    "COUNT(DISTINCT) ignoring nulls, SUM/AVG null-skip with the "
    "decimal-exact sum divided by the NON-NULL count, MIN/MAX "
    "null-skip, and — the one that actually differs between engines — "
    "sort placement of nulls: Spark defaults NULLS FIRST on ASC, "
    "DuckDB defaults NULLS LAST, so the ranked window spells ASC "
    "NULLS LAST explicitly on both sides (the portability rule this "
    "query exists to pin: never let an engine's default null order "
    "into a deterministic plan). One window + one aggregate on the "
    "same event_type partitioning. Scale: per-group state is a "
    "handful of scalars; the window sort is the only per-group cost.",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("value") < NULL_SEMANTICS_CUTOFF, F.lit(None)).otherwise(
        F.col("value")
    )
    e = ev.select("event_id", "event_type", v.alias("v"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("v").asc_nulls_last(), "event_id"
    )
    r = e.select("event_type", "event_id", "v", F.row_number().over(w).alias("rn"))
    return r.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.countDistinct("v").alias("n_distinct"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null"),
        F.when(
            ~poisoned_flag("v"),
            dsum(F.col("v").cast("decimal(18,2)"), 2) / F.count("v"),
        ).alias("avg_nonnull"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
            "first_id_nulls_last"
        ),
    )


# --------------------------------------------------------------------------
# Order-insensitive table content fingerprint
# --------------------------------------------------------------------------

#: Per-row hash is folded two ways: full-width XOR (order-insensitive,
#: full entropy, but blind to duplicate-row pairs) and a SUM of the
#: low 20 bits (duplicate-sensitive; 20 bits keeps the sum within
#: BIGINT on BOTH engines at 10^12 rows — DuckDB promotes BIGINT sums
#: to HUGEINT while Spark wraps, so the summand must be small enough
#: that neither path ever exceeds int64).
CHECKSUM_SUM_BITS = 20


def cksum_row_hash() -> "F.Column":
    """The customer-row canonical hash (shared with tests, which prove
    the xor/sum fold pair detects single-row edits AND duplications)."""
    from news_categorization_big_data_spark.functions.hashing import hash60

    canon = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
        F.col("c_mktsegment"),
    )
    return hash60(canon, seed="cksum")


def cksum_agg(rows: DataFrame) -> DataFrame:
    h = rows.select(cksum_row_hash().alias("h"), "c_custkey")
    return h.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_keys"),
        F.bit_xor("h").alias("xor_fp"),
        F.sum(F.col("h") % (2 ** CHECKSUM_SUM_BITS)).alias("sum_fp"),
    )


@register(
    "q_table_checksum",
    oracle=f"""
    WITH h AS (SELECT ('0x' || substr(md5('cksum:' ||
                      concat_ws('|',
                        CAST(c_custkey AS VARCHAR), c_name,
                        CAST(c_nationkey AS VARCHAR),
                        CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR),
                        c_mktsegment)), 1, 15))::BIGINT AS h,
                      c_custkey
               FROM customer)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
           CAST(bit_xor(h) AS BIGINT) AS xor_fp,
           CAST(SUM(h % {2 ** CHECKSUM_SUM_BITS}) AS BIGINT) AS sum_fp
    FROM h
    """,
    tier="C",
    doc="Order-insensitive table content fingerprint — the replica-"
    "comparison / migration-audit primitive ('does the copied table "
    "hold exactly the same rows?') that never needs a sort or a "
    "row-level diff join: one map-side-combinable aggregate emits "
    "row count, key count, a full-width XOR of per-row md5-derived "
    "hashes, and a duplicate-sensitive 20-bit SUM fold (XOR alone "
    "cancels identical-row PAIRS; the sum catches them — together "
    "they detect any single-row change, insert, or duplication with "
    "~2⁻⁶⁰ false-match odds). The fingerprint SPEC is part of the "
    "operator: numerics canonicalize to fixed-point integers "
    "(cents), never engine-formatted doubles, and fields join with "
    "an unambiguous separator — which is exactly what makes the "
    "DuckDB oracle reproduce it bit-for-bit. Commutative+associative "
    "folds mean partial aggregation on every node and a "
    "constant-size merge: the 100 TB cost is one scan.",
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cksum_agg(load_table(spark, sf_dir, "customer"))


# --------------------------------------------------------------------------
# k-anonymity audit
# --------------------------------------------------------------------------

#: Minimum acceptable quasi-identifier group size.
KANON_K = 5


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH g AS (SELECT c_nationkey, c_mktsegment,
                      CAST(COUNT(*) AS BIGINT) AS k
               FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(COUNT(CASE WHEN k < {KANON_K} THEN 1 END) AS BIGINT)
             AS n_groups_at_risk,
           CAST(COALESCE(SUM(CASE WHEN k < {KANON_K} THEN k END), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(COALESCE(SUM(CASE WHEN k < {KANON_K} THEN k END), 0) AS DOUBLE)
             / CAST(SUM(k) AS DOUBLE) AS risk_share
    FROM g
    """,
    tier="C",
    doc=f"k-anonymity audit over the (nation, market-segment) quasi-"
    "identifier pair: how many QI groups exist, the smallest group "
    f"size, and how many groups/rows fall below k={KANON_K} — the "
    "privacy screen run before releasing or training on a table "
    "whose column combinations could re-identify individuals "
    "(Sweeney 2002). Two nested aggregates: the QI group count "
    "(partial-aggregating, the only data-sized shuffle) and a "
    "constant-size summary over the GROUP table — at 100 TB the "
    "second stage touches |QI-combinations| rows, not the corpus. "
    "All-integer outputs except the final risk share, one division "
    "of exact counts.",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("k"))
    )
    at_risk = F.when(F.col("k") < KANON_K, F.col("k"))
    return g.agg(
        F.count("*").alias("n_groups"),
        F.min("k").alias("min_k"),
        F.count(at_risk).alias("n_groups_at_risk"),
        F.coalesce(F.sum(at_risk), F.lit(0)).cast("long").alias("n_rows_at_risk"),
        (
            F.coalesce(F.sum(at_risk), F.lit(0)).cast("double")
            / F.sum("k").cast("double")
        ).alias("risk_share"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA
# --------------------------------------------------------------------------


#: ANOVA between/within sum-of-squares (hoisted for o_dec_to_double).
_O_ANOVA_SSB = (
    "SUM(CAST(g.n * (g.s / g.n - t.s_g / t.n_g)"
    " * (g.s / g.n - t.s_g / t.n_g) AS DECIMAL(30,9)))"
)
_O_ANOVA_SSW = "SUM(CAST(g.ss - g.s * g.s / g.n AS DECIMAL(30,9)))"


@register(
    "q_anova_f",
    oracle=f"""
    WITH g AS (SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      -- o_fin inside the casts (DuckDB refuses
                      -- non-finite decimal casts); the poison flag
                      -- cascades to NULL the whole readout below
                      {o_poisoned('value')} AS pois,
                      {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(30,6)))", 6)} AS s,
                      {o_dec_to_double(f"SUM(CAST({o_fin('value * value')} AS DECIMAL(30,6)))", 6)}
                        AS ss
               FROM events GROUP BY event_type),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_g,
                   {o_dec_to_double("SUM(CAST(s AS DECIMAL(30,6)))", 6)} AS s_g,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   BOOL_OR(pois) AS pois_g
            FROM g),
    parts AS (SELECT t.n_g, t.k, t.pois_g,
                     {o_dec_to_double(_O_ANOVA_SSB, 9)} AS ssb,
                     {o_dec_to_double(_O_ANOVA_SSW, 9)} AS ssw
              FROM g, tot t GROUP BY t.n_g, t.k, t.pois_g)
    -- poison -> NULL readout: one non-finite value anywhere NULLs the
    -- sum-of-squares and F (a silently-short SSW would be a wrong
    -- answer, not a degraded one); the df counts stay (/tmp/skew7)
    SELECT CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n_g - k AS BIGINT) AS df_within,
           CASE WHEN NOT pois_g THEN ssb END AS ssb,
           CASE WHEN NOT pois_g THEN ssw END AS ssw,
           CASE WHEN NOT pois_g THEN
           (ssb / CAST(k - 1 AS DOUBLE))
             / nullif(ssw / CAST(n_g - k AS DOUBLE), 0.0) END AS f_stat
    FROM parts
    """,
    tier="C",
    doc="One-way ANOVA F-test across the event-type groups — the "
    "k-group generalization of q_ab_ttest ('do ANY of these variants "
    "differ?'), run before pairwise comparisons to control the "
    "multiple-testing budget. One partial-aggregating pass collects "
    "per-group (n, Σx, Σx²) on the decimal grid; the between/within "
    "sum-of-squares combine per-GROUP doubles, so each group's term "
    "is quantized to a 10⁻⁹ decimal grid before the k-row sum "
    "(reduction order across groups must not matter, even for 5 "
    "rows). Every mean and the final F are identical IEEE division "
    "chains. Scale: the only data-sized work is the first aggregate; "
    "everything after runs on k rows.",
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # the per-group sums run over the finite subset (the decimal
        # cast nulls non-finite rows identically on both engines); the
        # poison flag cascades below so no short sum ever SURFACES
        poisoned_flag("value").alias("pois"),
        dsum(F.col("value").cast("decimal(30,6)"), 6).alias("s"),
        dec_to_double(
            F.sum((F.col("value") * F.col("value")).cast("decimal(30,6)")), 6
        ).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("n_g"),
        dsum(F.col("s").cast("decimal(30,6)"), 6).alias("s_g"),
        F.count("*").alias("k"),
        F.max("pois").alias("pois_g"),
    )
    j = g.crossJoin(F.broadcast(tot))
    mean_dev = F.col("s") / F.col("n") - F.col("s_g") / F.col("n_g")
    parts = j.groupBy("n_g", "k", "pois_g").agg(
        dec_to_double(
            F.sum((F.col("n") * mean_dev * mean_dev).cast("decimal(30,9)")), 9
        ).alias("ssb"),
        dec_to_double(
            F.sum(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n")).cast(
                    "decimal(30,9)"
                )
            ),
            9,
        ).alias("ssw"),
    )
    ok = ~F.col("pois_g")
    return parts.select(
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_g") - F.col("k")).cast("long").alias("df_within"),
        F.when(ok, F.col("ssb")).alias("ssb"),
        F.when(ok, F.col("ssw")).alias("ssw"),
        F.when(
            ok,
            (F.col("ssb") / (F.col("k") - 1).cast("double"))
            # nullif-guard: zero within-group variance (all values equal
            # in every group) would be inf in DuckDB vs NULL in Spark —
            # both engines yield NULL for the degenerate population.
            / F.nullif(
                F.col("ssw") / (F.col("n_g") - F.col("k")).cast("double"),
                F.lit(0.0),
            )
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# Join-key skew profile
# --------------------------------------------------------------------------


@register(
    "q_skew_profile",
    oracle=f"""
    WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events GROUP BY user_id),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(cnt) AS BIGINT) AS max_cnt
            FROM counts),
    dv AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS nk FROM counts GROUP BY cnt),
    cum AS (SELECT cnt, CAST(SUM(nk) OVER (ORDER BY cnt) AS BIGINT) AS c FROM dv)
    SELECT tot.n_rows, tot.n_keys, tot.max_cnt,
           CAST(tot.max_cnt * 1000000 // tot.n_rows AS BIGINT) AS max_share_ppm,
           CAST(MIN(CASE WHEN c * 100 >= 50 * tot.n_keys THEN cnt END) AS BIGINT)
             AS p50_cnt,
           CAST(MIN(CASE WHEN c * 100 >= 90 * tot.n_keys THEN cnt END) AS BIGINT)
             AS p90_cnt,
           CAST(MIN(CASE WHEN c * 100 >= 99 * tot.n_keys THEN cnt END) AS BIGINT)
             AS p99_cnt
    FROM cum, tot
    GROUP BY tot.n_rows, tot.n_keys, tot.max_cnt
    """,
    tier="B",
    doc="Join-key skew profile of events.user_id: total rows, distinct "
    "keys, hottest key's row count and corpus share (exact ppm), and "
    "exact p50/p90/p99 of per-key row counts — the diagnostic a team "
    "runs BEFORE a big join to decide between plain shuffle, AQE "
    "skew-split, and salting (q_join_salted / q_salted_agg are the "
    "treatments; this is the measurement). A p99/p50 ratio near 1 "
    "means salting is wasted work; a max_share over a few percent "
    "means one reducer owns the join. Exact order statistics ride "
    "the DISTINCT count-value table (bounded by distinct COUNT "
    "values, not keys — the q_gini discipline), so the one ordered "
    "window is tiny at any corpus size; everything else is two "
    "partial-agg shuffles and a 1-row broadcast.",
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    dv = counts.groupBy("cnt").agg(F.count("*").cast("long").alias("nk"))
    cum = dv.withColumn(
        "_c",
        F.sum("nk").over(
            Window.orderBy("cnt").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    ).select("cnt", F.col("_c").cast("long").alias("c"))

    def pctl(p: int):
        return (
            F.min(
                F.when(F.col("c") * 100 >= F.lit(p) * F.col("n_keys"), F.col("cnt"))
            )
            .cast("long")
            .alias(f"p{p}_cnt")
        )

    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_rows", "n_keys", "max_cnt")
        .agg(
            F.first(
                F.expr("max_cnt * 1000000 div n_rows").cast("long")
            ).alias("max_share_ppm"),
            pctl(50),
            pctl(90),
            pctl(99),
        )
        .select(
            "n_rows",
            "n_keys",
            "max_cnt",
            "max_share_ppm",
            "p50_cnt",
            "p90_cnt",
            "p99_cnt",
        )
    )


# --------------------------------------------------------------------------
# Sample-ratio-mismatch guardrail
# --------------------------------------------------------------------------

#: Planned assignment: hash60 % 4 -> buckets {0,1}=A (50%), {2}=B (25%),
#: {3}=C (25%). SRM tests the OBSERVED user counts against these.
SRM_WEIGHTS = {"A": 0.5, "B": 0.25, "C": 0.25}


@register(
    "q_ab_srm",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arm AS (SELECT user_id,
                   ('0x' || substr(md5('srm:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                     % 4 AS b
            FROM u),
    -- COUNT(CASE...), not count_if: DuckDB count_if over zero rows is
    -- NULL, Spark's arm counts are 0 (empty-shard parity, /tmp/skew6)
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                 COUNT(CASE WHEN b <= 1 THEN 1 END) AS n_a,
                 COUNT(CASE WHEN b = 2 THEN 1 END) AS n_b,
                 COUNT(CASE WHEN b = 3 THEN 1 END) AS n_c
          FROM arm)
    SELECT n_users, n_a, n_b, n_c,
           (n_a - n_users * 0.5) * (n_a - n_users * 0.5) / (n_users * 0.5)
           + (n_b - n_users * 0.25) * (n_b - n_users * 0.25) / (n_users * 0.25)
           + (n_c - n_users * 0.25) * (n_c - n_users * 0.25) / (n_users * 0.25)
             AS chi2_srm
    FROM c
    """,
    tier="B",
    doc="Sample-ratio-mismatch guardrail (the #1 experiment validity "
    "check): users are assigned to arms A/B/C at planned 50/25/25 by "
    "the engine's portable md5 hash, and the chi-square statistic of "
    "observed-vs-planned USER counts is reported — randomization "
    "units, not events, which is the classic SRM mistake (a heavy "
    "user in one arm is not a mismatch). chi2 >> 7.8 (df=2, p<.05) "
    "means broken bucketing/logging and invalidates any readout from "
    "q_ab_ttest. Plan: one distinct-users aggregate, then ONE "
    "conditional-count pass; per-arm state is three integers — "
    "map-side partial, 100-TB-safe. Determinism: observed counts "
    "exact; expected counts and the chi2 chain are the same "
    "IEEE-correctly-rounded expression tree on both engines.",
)
def q_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.hashing import hash60

    u = load_table(spark, sf_dir, "events").select("user_id").distinct()
    arm = u.select(
        (hash60(F.col("user_id").cast("string"), seed="srm") % 4).alias("b")
    )
    c = arm.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count(F.when(F.col("b") <= 1, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("b") == 2, 1)).cast("long").alias("n_b"),
        F.count(F.when(F.col("b") == 3, 1)).cast("long").alias("n_c"),
    )
    n, a, b, cc = (F.col(x).cast("double") for x in ("n_users", "n_a", "n_b", "n_c"))
    # try_divide: an empty events shard gives n = 0 and the chi2 must
    # be NULL (the oracle's x/0 is NULL in DuckDB), not an ANSI
    # DIVIDE_BY_ZERO crash (/tmp/skew6 empty-input finding).
    chi2 = (
        F.try_divide((a - n * 0.5) * (a - n * 0.5), n * 0.5)
        + F.try_divide((b - n * 0.25) * (b - n * 0.25), n * 0.25)
        + F.try_divide((cc - n * 0.25) * (cc - n * 0.25), n * 0.25)
    )
    return c.select("n_users", "n_a", "n_b", "n_c", chi2.alias("chi2_srm"))


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence interval
# --------------------------------------------------------------------------

#: Resample count and the Poisson(1) inverse-CDF thresholds on a 16-bit
#: grid: a uniform u in [0,65536) maps to weight w = #{t : u >= t}
#: (floor(CDF(k)*65536) for k=0..6, capping w at 7; the 2^-16
#: quantization of the CDF is the documented approximation).
BOOT_B = 40
BOOT_T = (24109, 48218, 60273, 64291, 65296, 65497, 65530)
#: Rank-order CI convention: the floor((B+1)*alpha) order statistics —
#: ranks 1 and 39 of 40 for a 95% interval (Hyndman-Fan type-1 style).
BOOT_K_LO, BOOT_K_HI = 1, 39


def _boot_w_sql(u: str) -> str:
    return "(" + " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in BOOT_T
    ) + ")"


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH pz AS (SELECT event_type, {o_poisoned('value')} AS pois
                FROM events GROUP BY 1),
    r AS (SELECT event_type, event_id,
                      CAST({o_fin('value')} AS DECIMAL(18,2)) AS v, b.b AS b
               FROM events, unnest(range({BOOT_B})) AS b(b)
               WHERE value IS NOT NULL),
    u AS (SELECT event_type, v, b,
                 ('0x' || substr(md5('boot' || CAST(b // 8 AS VARCHAR) || ':'
                       || CAST(event_id AS VARCHAR)),
                       1 + 4 * (b % 8), 4))::BIGINT AS u16
          FROM r),
    res AS (SELECT event_type, b,
                   CAST(SUM({_boot_w_sql('u16')}) AS BIGINT) AS na,
                   {o_dec_to_double(f"SUM({_boot_w_sql('u16')} * v)", 2)} AS sa
            FROM u GROUP BY event_type, b),
    m AS (SELECT event_type, b, sa / na AS mean_b,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY sa / na, b) AS rn
          FROM res WHERE na > 0)
    -- poison -> NULL CI: a non-finite value anywhere in a type NULLs
    -- its interval on both engines (a CI over a silently-shortened
    -- sample would be a wrong answer; /tmp/skew7)
    SELECT m.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_resamples,
           MAX(CASE WHEN rn = {BOOT_K_LO} AND NOT pz.pois THEN mean_b END) AS boot_lo,
           MAX(CASE WHEN rn = {BOOT_K_HI} AND NOT pz.pois THEN mean_b END) AS boot_hi
    FROM m JOIN pz ON m.event_type = pz.event_type
    GROUP BY m.event_type
    """,
    tier="C",
    doc=f"95% bootstrap confidence interval for mean(value) per event "
    f"type via the POISSON bootstrap — the only bootstrap that works "
    "at 100 TB: classical resampling draws n rows WITH replacement "
    "(a global operation), while Poisson(1) multiplicities are "
    "per-row independent, so all "
    f"{BOOT_B} resamples run in ONE pass with map-side partial "
    "aggregation (Chamandy et al., 'Estimating Uncertainty for "
    "Massive Data Streams', Google 2012). Each row's weight for "
    "resample b is the Poisson(1) inverse CDF evaluated at a 16-bit "
    "uniform carved from md5(digest b//8, lane b%%8) — deterministic "
    "across engines, partitionings and reruns, no RNG state. "
    "Weighted sums accumulate on the DECIMAL(18,2) grid and convert "
    "to double via the engine-identical dec_to_double limb chain "
    "(functions/exact.py — a direct cast hash-flips once the scaled "
    "sum passes 2^53, i.e. ~1.3·10^10 in-domain rows per type at max "
    "weight 7; measured in tests/test_overflow_bounds.py), resample "
    "means are identical IEEE divides, and "
    f"the CI is the rank-{BOOT_K_LO}/rank-{BOOT_K_HI} order "
    f"statistics of the {BOOT_B} means (floor((B+1)*alpha) "
    "convention), ranked with ties broken on b. Plan: a TWO-LEVEL "
    "map-local explode — digest groups first (one md5 per (row, "
    "b div 8): 8 lanes share a digest, and CollapseProject won't "
    "duplicate the non-cheap md5 into the lane generator, so the 8x "
    "digest recomputation the single-level explode paid is gone — "
    "1.54x at sf0.1, 1.65x at sf1, bit-identical, SCALE.md round 11 "
    "— then the 8 lanes, into the (type, b) partial aggregate: "
    "exploded rows never cross the wire (partials collapse to types "
    "x B cells), then the window and final aggregate ride the cell "
    "table. Two "
    "rewrites that LOOK faster measured slower at the sf1 decade "
    "(SCALE.md): an 80-expression conditional-sum lane aggregate "
    "(no inflation, but the update falls out of whole-stage codegen) "
    "and a pre-exploded per-row uniform ARRAY (project-collapse "
    "re-inlines the array build into the generator, re-evaluating "
    "all B slices per emitted row). The straightforward explode "
    "keeps codegen tight and won.",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TWO-LEVEL explode (round 11): first the digest GROUPS (one md5
    # per (row, group) — 8 lanes share a digest), then the 8 lanes
    # slicing it. The previous single-level explode evaluated the md5
    # inside the per-b projection, recomputing each digest 8x (40 md5
    # per source row where only 5 are distinct — 400M extra md5 calls
    # at sf1). Catalyst does NOT re-inline the digest into the lane
    # generator (CollapseProject refuses to duplicate non-cheap
    # expressions), so the md5 really evaluates once per (row, group)
    # — verified in the plan and by the measured win: interleaved A/B
    # 4.04->2.63 s at sf0.1, 36.6->22.2 s at sf1, output
    # BIT-IDENTICAL (same digests, same lanes, same u16s; SCALE.md
    # round 11).
    n_groups = (BOOT_B + 7) // 8
    # fan_out BEFORE the B-fold explode (guide §2.5 input skew): the
    # bench fixtures are single-row-group parquet files, so the scan is
    # 1-2 tasks and the 40x explode + md5/conv/aggregate map work — the
    # whole query — serializes onto those cores. Round-robin the 1-row-
    # per-event pre-explode frame (the CHEAP side of the fan-out: ~30
    # bytes/row moves once, the 40x inflation happens after) to full
    # parallelism; no-op where the scan is already wide (real clusters).
    # Measured (interleaved A/B, noop sink): sf1 19.2->4.1 s, sf0.1
    # 2.66->1.49 s, output oracle-MATCH.
    ev = (
        fan_out(
            load_table(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select(
                "event_type",
                "event_id",
                F.col("value").cast("decimal(18,2)").alias("v"),
            )
        )
        .withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))))
        .withColumn(
            "dig",
            F.md5(
                F.concat(
                    F.lit("boot"),
                    F.col("g").cast("string"),
                    F.lit(":"),
                    F.col("event_id").cast("string"),
                )
            ),
        )
        # Parse the 32-hex digest into THREE long chunks per (row, g)
        # (lanes 0-2 / 3-5 / 6-7 = 48+48+32 bits) instead of one
        # conv-from-hex per lane: 3 string parses per group, the 8
        # per-lane extractions become shift+mask. Bit-identical u16s
        # (lane l's hex window [4l+1, 4l+4] is exactly the shifted
        # chunk); interleaved A/B 1.22x at sf0.1, 1.26x at sf1 on top
        # of the two-level explode (SCALE.md round 11).
        .withColumn("c0", F.conv(F.expr("substring(dig, 1, 12)"), 16, 10).cast("long"))
        .withColumn("c1", F.conv(F.expr("substring(dig, 13, 12)"), 16, 10).cast("long"))
        .withColumn("c2", F.conv(F.expr("substring(dig, 25, 8)"), 16, 10).cast("long"))
        .withColumn("lane", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .withColumn("b", F.col("g") * 8 + F.col("lane"))
        .where(F.col("b") < BOOT_B)
    )
    u16 = F.expr(
        "CASE WHEN lane < 3 THEN shiftright(c0, (2 - lane) * 16) "
        "WHEN lane < 6 THEN shiftright(c1, (5 - lane) * 16) "
        "ELSE shiftright(c2, (7 - lane) * 16) END & 65535"
    )
    w = sum((u16 >= F.lit(t)).cast("int") for t in BOOT_T)
    res = (
        ev.select("event_type", "b", w.alias("w"), "v")
        .groupBy("event_type", "b")
        .agg(
            F.sum("w").cast("long").alias("na"),
            dsum(F.col("w") * F.col("v"), 2).alias("sa"),
        )
        .where(F.col("na") > 0)
    )
    wn = Window.partitionBy("event_type").orderBy(
        (F.col("sa") / F.col("na")).asc(), F.col("b").asc()
    )
    m = res.select(
        "event_type",
        (F.col("sa") / F.col("na")).alias("mean_b"),
        F.row_number().over(wn).alias("rn"),
    )
    # poison -> NULL CI per type (one tiny broadcast flag join; see
    # the oracle note)
    pz = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(poisoned_flag("value").alias("pois"))
    )
    return (
        m.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_resamples"),
            F.max(F.when(F.col("rn") == BOOT_K_LO, F.col("mean_b"))).alias("_lo"),
            F.max(F.when(F.col("rn") == BOOT_K_HI, F.col("mean_b"))).alias("_hi"),
        )
        .join(F.broadcast(pz), "event_type")
        .select(
            "event_type",
            "n_resamples",
            F.when(~F.col("pois"), F.col("_lo")).alias("boot_lo"),
            F.when(~F.col("pois"), F.col("_hi")).alias("boot_hi"),
        )
    )


# --------------------------------------------------------------------------
# Difference-in-differences
# --------------------------------------------------------------------------

#: Pre/post period cut (mid-range of the 30-day event log — the
#: KS_CUT convention) and the arm-assignment hash seed.
DID_CUT = "2024-01-16 00:00:00"


@register(
    "q_did_effect",
    oracle=f"""
    WITH c AS (SELECT
        ('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
          % 2 AS arm,
        CASE WHEN ts >= TIMESTAMP '{DID_CUT}' THEN 1 ELSE 0 END AS post,
        CAST({o_fin('value')} AS DECIMAL(18,2)) AS v,
        NOT isfinite(value) AS rpois
      FROM events WHERE value IS NOT NULL),
    cell AS (SELECT arm, post,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    BOOL_OR(rpois) AS pois,
                    {o_dec_to_double("SUM(v)", 2)} AS s
             FROM c GROUP BY arm, post),
    -- poison -> NULL: a poisoned cell NULLs its mean and therefore the
    -- whole DiD chain (NULL arithmetic) on both engines (/tmp/skew7)
    m AS (SELECT
            MAX(CASE WHEN arm = 1 AND post = 1 AND NOT pois THEN s / n END) AS t_post,
            MAX(CASE WHEN arm = 1 AND post = 0 AND NOT pois THEN s / n END) AS t_pre,
            MAX(CASE WHEN arm = 0 AND post = 1 AND NOT pois THEN s / n END) AS c_post,
            MAX(CASE WHEN arm = 0 AND post = 0 AND NOT pois THEN s / n END) AS c_pre,
            CAST(SUM(n) AS BIGINT) AS n_events
          FROM cell)
    SELECT n_events, t_pre, t_post, c_pre, c_post,
           (t_post - t_pre) - (c_post - c_pre) AS did
    FROM m
    """,
    tier="B",
    doc="Difference-in-differences estimator: users hash-assigned to "
    "treatment/control, the event log split pre/post at the "
    "mid-range cut, and the effect read as (treated post-pre delta) "
    "minus (control post-pre delta) — the design that nets out both "
    "the level difference between arms and the common time trend, "
    "which a naive post-only comparison conflates. Plan: ONE "
    "conditional-aggregate pass to the 4 (arm, period) cells "
    "(map-side partial; no per-arm rescans), closed forms on the "
    "4-row cell table. Determinism: counts and DECIMAL(18,2) sums "
    "exact and under 2^53 (the q_ab_ttest bound), cell means and "
    "the DiD chain identical IEEE expressions on both engines.",
)
def q_did_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.hashing import hash60

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = ev.select(
        (hash60(F.col("user_id").cast("string"), seed="did") % 2).alias("arm"),
        F.when(F.col("ts") >= F.lit(DID_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.coalesce(nonfinite("value"), F.lit(False)).alias("rpois"),
    )
    cell = c.groupBy("arm", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.max("rpois").alias("pois"),
        dsum("v", 2).alias("s"),
    )
    # poison -> NULL cell mean -> NULL DiD chain (/tmp/skew7)
    mean = F.when(~F.col("pois"), F.col("s") / F.col("n"))
    m = cell.agg(
        F.max(F.when((F.col("arm") == 1) & (F.col("post") == 1), mean)).alias("t_post"),
        F.max(F.when((F.col("arm") == 1) & (F.col("post") == 0), mean)).alias("t_pre"),
        F.max(F.when((F.col("arm") == 0) & (F.col("post") == 1), mean)).alias("c_post"),
        F.max(F.when((F.col("arm") == 0) & (F.col("post") == 0), mean)).alias("c_pre"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return m.select(
        "n_events",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did"),
    )


# --------------------------------------------------------------------------
# CUPED variance reduction
# --------------------------------------------------------------------------


@register(
    "q_cuped",
    oracle=f"""
    WITH pz AS (SELECT BOOL_OR(NOT isfinite(value)) AS pois
                FROM events WHERE value IS NOT NULL),
    e AS (SELECT user_id,
                      CASE WHEN ts >= TIMESTAMP '{DID_CUT}' THEN 1 ELSE 0 END AS per,
                      CAST(CAST({o_fin('value')} AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM events WHERE value IS NOT NULL),
    u0 AS (SELECT user_id,
                  CAST(COUNT(CASE WHEN per = 0 THEN 1 END) AS BIGINT) AS n_pre,
                  CAST(COUNT(CASE WHEN per = 1 THEN 1 END) AS BIGINT) AS n_post,
                  CAST(COALESCE(SUM(CASE WHEN per = 0 THEN cents END), 0) AS BIGINT) AS s_pre,
                  CAST(COALESCE(SUM(CASE WHEN per = 1 THEN cents END), 0) AS BIGINT) AS s_post
           FROM e GROUP BY user_id),
    u AS (SELECT user_id,
                 CAST(s_pre // n_pre AS BIGINT) AS x,
                 CAST(s_post // n_post AS BIGINT) AS y,
                 ('0x' || substr(md5('cuped:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2 AS arm
          FROM u0 WHERE n_pre > 0 AND n_post > 0),
    a AS (SELECT arm,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
                 CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
                 CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
                 CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
                 CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
          FROM u GROUP BY arm),
    g AS (SELECT arm, n, sx, sy, sxx, sxy, syy,
                 SUM(n) OVER () AS n_g, SUM(sx) OVER () AS sx_g,
                 SUM(sy) OVER () AS sy_g, SUM(sxx) OVER () AS sxx_g,
                 SUM(sxy) OVER () AS sxy_g
          FROM a),
    t AS (SELECT *,
                 (n_g * sxy_g - sx_g * sy_g)
                   / NULLIF(n_g * sxx_g - sx_g * sx_g, 0e0) AS theta,
                 sx_g / n_g AS mu
          FROM g)
    -- poison -> NULL readout: one non-finite value anywhere NULLs the
    -- pooled theta and every derived stat (a covariate silently built
    -- on a zeroed NaN row is a wrong answer); arm/n_users stay
    -- (/tmp/skew7)
    SELECT CAST(arm AS INT) AS arm, CAST(n AS BIGINT) AS n_users,
           CASE WHEN NOT pz.pois THEN theta END AS theta,
           CASE WHEN NOT pz.pois THEN sy / n END AS mean_post,
           CASE WHEN NOT pz.pois THEN sy / n - theta * (sx / n - mu) END AS mean_adj,
           CASE WHEN NOT pz.pois THEN
           (syy - sy * sy / n) / NULLIF(n - 1, 0e0) END AS var_post,
           CASE WHEN NOT pz.pois THEN
           ((syy - 2 * theta * (sxy - mu * sy)
             + theta * theta * (sxx - 2 * mu * sx + n * mu * mu))
            - (sy - theta * (sx - n * mu)) * (sy - theta * (sx - n * mu)) / n)
             / NULLIF(n - 1, 0e0) END AS var_adj
    FROM t, pz
    """,
    tier="C",
    doc="CUPED variance reduction (Deng et al., WSDM 2013 — the "
    "industry-standard experiment accelerator): each user's PRE-period "
    "mean value is the covariate; theta = cov(pre,post)/var(pre) is "
    "fit on the POOLED user table, and each arm reports its raw and "
    "adjusted post-period means plus both variances — var_adj/var_post "
    "~ 1-rho^2 is the sample-size the covariate refunds. Only users "
    "priced in BOTH periods enter (CUPED needs the covariate). "
    "Determinism: the per-user covariate is floor-divided integer "
    "CENTS of the mean (bounded by max value, NOT by activity — so "
    "the user-table moment sums stay under 2^53 no matter how many "
    "events a decade adds; the q_twap >2^53 lesson applied "
    "preventively), moment sums are exact integers, and "
    "theta/means/variances are identical IEEE chains on the 2-row "
    "arm table (NULLIF-guarded degenerate denominators). Plan: one "
    "user-keyed partial-agg shuffle, one 2-row arm aggregate, window "
    "totals over the ARM table — per-user state never broadcast, "
    "100-TB-safe.",
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.hashing import hash60

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cut = F.lit(DID_CUT).cast("timestamp")
    e = ev.select(
        "user_id",
        F.when(F.col("ts") >= cut, 1).otherwise(0).alias("per"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    u0 = e.groupBy("user_id").agg(
        F.count(F.when(F.col("per") == 0, 1)).cast("long").alias("n_pre"),
        F.count(F.when(F.col("per") == 1, 1)).cast("long").alias("n_post"),
        F.coalesce(F.sum(F.when(F.col("per") == 0, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("s_pre"),
        F.coalesce(F.sum(F.when(F.col("per") == 1, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("s_post"),
    )
    u = (
        u0.where((F.col("n_pre") > 0) & (F.col("n_post") > 0))
        .select(
            F.expr("s_pre div n_pre").cast("long").alias("x"),
            F.expr("s_post div n_post").cast("long").alias("y"),
            (hash60(F.col("user_id").cast("string"), seed="cuped") % 2).alias(
                "arm"
            ),
        )
    )
    a = u.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    wg = Window.partitionBy()
    g = a.select(
        "*",
        F.sum("n").over(wg).alias("n_g"),
        F.sum("sx").over(wg).alias("sx_g"),
        F.sum("sy").over(wg).alias("sy_g"),
        F.sum("sxx").over(wg).alias("sxx_g"),
        F.sum("sxy").over(wg).alias("sxy_g"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    n_g, sx_g, sy_g = F.col("n_g"), F.col("sx_g"), F.col("sy_g")
    sxx_g, sxy_g = F.col("sxx_g"), F.col("sxy_g")
    theta = (n_g * sxy_g - sx_g * sy_g) / F.nullif(
        n_g * sxx_g - sx_g * sx_g, F.lit(0.0)
    )
    t = g.select("arm", n.alias("n"), sx, sy, sxx, sxy, syy,
                 theta.alias("theta"), (sx_g / n_g).alias("mu"))
    th, mu = F.col("theta"), F.col("mu")
    sum_adj = sy - th * (sx - n * mu)
    sum_adj2 = (
        syy
        - 2 * th * (sxy - mu * sy)
        + th * th * (sxx - 2 * mu * sx + n * mu * mu)
    )
    # poison -> NULL readout (global flag; see the oracle note)
    pz = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .agg(poisoned_flag("value").alias("pois"))
    )
    ok = ~F.col("pois")
    return t.crossJoin(F.broadcast(pz)).select(
        F.col("arm").cast("int").alias("arm"),
        n.cast("long").alias("n_users"),
        F.when(ok, F.col("theta")).alias("theta"),
        F.when(ok, sy / n).alias("mean_post"),
        F.when(ok, sy / n - th * (sx / n - mu)).alias("mean_adj"),
        F.when(ok, (syy - sy * sy / n) / F.nullif(n - 1, F.lit(0.0))).alias("var_post"),
        F.when(
            ok,
            (sum_adj2 - sum_adj * sum_adj / n)
            / F.nullif(n - 1, F.lit(0.0)),
        ).alias("var_adj"),
    )


# --------------------------------------------------------------------------
# One-stop experiment readout
# --------------------------------------------------------------------------

#: The metric statistics carry the poison -> NULL contract (a `pois`
#: boolean must be in scope on BOTH engines — /tmp/skew7): user counts
#: and the SRM chi-square are row-count facts and stay.
_EXP_CLOSED = """
    SELECT CAST(n0 + n1 AS BIGINT) AS n_users,
           CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           (n0 - (n0 + n1) * 0.5) * (n0 - (n0 + n1) * 0.5) / ((n0 + n1) * 0.5)
             + (n1 - (n0 + n1) * 0.5) * (n1 - (n0 + n1) * 0.5) / ((n0 + n1) * 0.5)
             AS chi2_srm,
           (CASE WHEN NOT pois THEN theta END) AS theta,
           (CASE WHEN NOT pois THEN (sy0 / n0 - sy1 / n1)
             / sqrt((syy0 - sy0 * sy0 / n0) / (n0 - 1) / n0
                    + (syy1 - sy1 * sy1 / n1) / (n1 - 1) / n1) END) AS t_raw,
           (CASE WHEN NOT pois THEN ((sy0 / n0 - theta * (sx0 / n0 - mu))
              - (sy1 / n1 - theta * (sx1 / n1 - mu)))
             / sqrt(va0 / n0 + va1 / n1) END) AS t_cuped,
           (CASE WHEN NOT pois THEN (va0 + va1)
             / ((syy0 - sy0 * sy0 / n0) / (n0 - 1)
                + (syy1 - sy1 * sy1 / n1) / (n1 - 1)) END) AS var_refund
"""


@register(
    "q_experiment_readout",
    oracle=f"""
    WITH pz AS (SELECT BOOL_OR(NOT isfinite(value)) AS pois
                FROM events WHERE value IS NOT NULL),
    e AS (SELECT user_id,
                      CASE WHEN ts >= TIMESTAMP '{DID_CUT}' THEN 1 ELSE 0 END AS per,
                      CAST(CAST({o_fin('value')} AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM events WHERE value IS NOT NULL),
    u0 AS (SELECT user_id,
                  CAST(COUNT(CASE WHEN per = 0 THEN 1 END) AS BIGINT) AS n_pre,
                  CAST(COUNT(CASE WHEN per = 1 THEN 1 END) AS BIGINT) AS n_post,
                  CAST(COALESCE(SUM(CASE WHEN per = 0 THEN cents END), 0) AS BIGINT) AS s_pre,
                  CAST(COALESCE(SUM(CASE WHEN per = 1 THEN cents END), 0) AS BIGINT) AS s_post
           FROM e GROUP BY user_id),
    u AS (SELECT CAST(s_pre // n_pre AS BIGINT) AS x,
                 CAST(s_post // n_post AS BIGINT) AS y,
                 ('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2 AS arm
          FROM u0 WHERE n_pre > 0 AND n_post > 0),
    a AS (SELECT arm,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
                 CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
                 CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
                 CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
                 CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
          FROM u GROUP BY arm),
    p AS (SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
                 MAX(CASE WHEN arm = 0 THEN sx END) AS sx0,
                 MAX(CASE WHEN arm = 0 THEN sy END) AS sy0,
                 MAX(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
                 MAX(CASE WHEN arm = 0 THEN sxy END) AS sxy0,
                 MAX(CASE WHEN arm = 0 THEN syy END) AS syy0,
                 MAX(CASE WHEN arm = 1 THEN n END) AS n1,
                 MAX(CASE WHEN arm = 1 THEN sx END) AS sx1,
                 MAX(CASE WHEN arm = 1 THEN sy END) AS sy1,
                 MAX(CASE WHEN arm = 1 THEN sxx END) AS sxx1,
                 MAX(CASE WHEN arm = 1 THEN sxy END) AS sxy1,
                 MAX(CASE WHEN arm = 1 THEN syy END) AS syy1
          FROM a),
    t AS (SELECT *,
                 ((n0 + n1) * (sxy0 + sxy1) - (sx0 + sx1) * (sy0 + sy1))
                   / NULLIF((n0 + n1) * (sxx0 + sxx1)
                            - (sx0 + sx1) * (sx0 + sx1), 0e0) AS theta,
                 (sx0 + sx1) / (n0 + n1) AS mu
          FROM p),
    v AS (SELECT *,
                 ((syy0 - 2 * theta * (sxy0 - mu * sy0)
                   + theta * theta * (sxx0 - 2 * mu * sx0 + n0 * mu * mu))
                  - (sy0 - theta * (sx0 - n0 * mu))
                      * (sy0 - theta * (sx0 - n0 * mu)) / n0) / (n0 - 1) AS va0,
                 ((syy1 - 2 * theta * (sxy1 - mu * sy1)
                   + theta * theta * (sxx1 - 2 * mu * sx1 + n1 * mu * mu))
                  - (sy1 - theta * (sx1 - n1 * mu))
                      * (sy1 - theta * (sx1 - n1 * mu)) / n1) / (n1 - 1) AS va1
          FROM t)
    {_EXP_CLOSED}
    FROM v, pz
    """,
    tier="C",
    doc="ONE-stop experiment readout — the composed capstone of the "
    "suite (q_ab_srm -> q_ab_ttest -> q_cuped in a single DAG over a "
    "single 'exp' assignment): the SRM chi-square guardrail on the "
    "user split, Welch t on the raw post-period user metric, Welch t "
    "on the CUPED-adjusted metric, and the variance refund "
    "var_adj/var_post that explains the power gain — all derived "
    "from ONE user-keyed aggregate's six moment sums per arm "
    "(no second scan per statistic; the closed forms run on a 1-row "
    "pivot). The SAME _EXP_CLOSED SQL fragment is the single source "
    "of truth for the Spark side's expressions (built with identical "
    "association via F.expr), so the two engines cannot drift. "
    "Determinism: the q_cuped integer-cents covariate bound "
    "(moment sums under 2^53 regardless of activity), then "
    "identical IEEE chains; sqrt is correctly rounded.",
)
def q_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.hashing import hash60

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cut = F.lit(DID_CUT).cast("timestamp")
    e = ev.select(
        "user_id",
        F.when(F.col("ts") >= cut, 1).otherwise(0).alias("per"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    u0 = e.groupBy("user_id").agg(
        F.count(F.when(F.col("per") == 0, 1)).cast("long").alias("n_pre"),
        F.count(F.when(F.col("per") == 1, 1)).cast("long").alias("n_post"),
        F.coalesce(F.sum(F.when(F.col("per") == 0, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("s_pre"),
        F.coalesce(F.sum(F.when(F.col("per") == 1, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("s_post"),
    )
    u = (
        u0.where((F.col("n_pre") > 0) & (F.col("n_post") > 0))
        .select(
            F.expr("s_pre div n_pre").cast("long").alias("x"),
            F.expr("s_post div n_post").cast("long").alias("y"),
            (hash60(F.col("user_id").cast("string"), seed="exp") % 2).alias(
                "arm"
            ),
        )
    )
    a = u.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    piv = a.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c}{arm}")
            for arm in (0, 1)
            for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
        ]
    )
    t = piv.withColumn(
        "theta",
        F.expr(
            "((n0 + n1) * (sxy0 + sxy1) - (sx0 + sx1) * (sy0 + sy1))"
            " / nullif((n0 + n1) * (sxx0 + sxx1)"
            " - (sx0 + sx1) * (sx0 + sx1), 0d)"
        ),
    ).withColumn("mu", F.expr("(sx0 + sx1) / (n0 + n1)"))
    v = t.withColumn(
        "va0",
        F.expr(
            "((syy0 - 2 * theta * (sxy0 - mu * sy0)"
            " + theta * theta * (sxx0 - 2 * mu * sx0 + n0 * mu * mu))"
            " - (sy0 - theta * (sx0 - n0 * mu))"
            " * (sy0 - theta * (sx0 - n0 * mu)) / n0) / (n0 - 1)"
        ),
    ).withColumn(
        "va1",
        F.expr(
            "((syy1 - 2 * theta * (sxy1 - mu * sy1)"
            " + theta * theta * (sxx1 - 2 * mu * sx1 + n1 * mu * mu))"
            " - (sy1 - theta * (sx1 - n1 * mu))"
            " * (sy1 - theta * (sx1 - n1 * mu)) / n1) / (n1 - 1)"
        ),
    )
    # poison -> NULL metric stats: the shared fragment's CASE guards
    # need the pois column in scope on the Spark side too
    pz = ev.agg(poisoned_flag("value").alias("pois"))
    v = v.crossJoin(F.broadcast(pz))
    # the closed forms: ONE shared SQL fragment drives both engines
    return v.selectExpr(
        *[
            line.strip().rstrip(",")
            for line in _exp_closed_exprs()
        ]
    )


def _exp_closed_exprs() -> list[str]:
    """Split _EXP_CLOSED's SELECT list into selectExpr-ready strings."""
    body = _EXP_CLOSED.strip()
    assert body.upper().startswith("SELECT")
    body = body[len("SELECT "):]
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [x.strip() for x in out if x.strip()]
