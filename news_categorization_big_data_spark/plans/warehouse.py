"""Warehouse-tier temporal operators (round 5): sliding exact distinct,
CUSUM changepoint detection, SCD2 interval reconstruction, two-sample
Kolmogorov-Smirnov drift, and semi-additive (balance) aggregation.

These are the time-shaped analytics a production warehouse layers over
an event stream; none are expressible as a plain groupBy, all are
expressible as compositions of Spark windows/joins/aggregates — no
Python anywhere. Every oracle follows the module-header determinism
rules of plans/analytics.py: decimal-quantized double sums (reduction-
order-free), integer cross-multiplication instead of float thresholds,
date strings instead of DATE outputs, counts cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
)
from news_categorization_big_data_spark.plans.relational import (
    dsum,
    o_fin,
    o_poisoned,
    poisoned_flag,
)
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

#: Oracle sub-expressions hoisted for o_dec_to_double (f-string nesting).
_O_CUSUM_RUN = (
    "SUM(CAST(d.v - st.tot / st.n_days AS DECIMAL(30,6)))"
    " OVER (PARTITION BY d.event_type ORDER BY d.day"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)
_O_RC_SUM = (
    "SUM(CASE WHEN event_type = '{t}'"
    " THEN CAST((CASE WHEN isfinite(value) THEN value END)"
    " AS DECIMAL(30,6)) END)"
)

#: Sliding-window width in days for the exact distinct-user count.
SLIDE_DAYS = 7

#: Month-half boundary for the KS drift comparison (events span 2024-01).
KS_CUT = "2024-01-16 00:00:00"


@register(
    "q_sliding_distinct",
    oracle=f"""
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('day', ts) AS DATE) AS d
                FROM events WHERE ts IS NOT NULL),
    w AS (SELECT user_id,
                 strftime(d - i * INTERVAL '1 day', '%Y-%m-%d') AS win_start
          FROM ud, range({SLIDE_DAYS}) t(i))
    SELECT win_start, COUNT(DISTINCT user_id) AS n_users
    FROM w GROUP BY win_start
    """,
    tier="B",
    doc=f"EXACT distinct users per {SLIDE_DAYS}-day sliding window (daily "
    "slide) — the rolling-reach metric. Sliding distinct is the "
    "classic hard case: COUNT(DISTINCT) is not associative across "
    "overlapping windows, so no window-function frame computes it. "
    "The scale shape used here: dedup to (user, day) FIRST (the only "
    "pass over raw events), then explode each surviving row into the "
    f"{SLIDE_DAYS} windows it contributes to, then one distinct-"
    "aggregate on (window, user). Shuffle volume is "
    f"{SLIDE_DAYS}×|user-days| — independent of raw event count, the "
    "term that dominates at 100 TB. The windows-ending-in-the-future "
    "tail (first/last 6 days) is emitted as-is; callers trim to the "
    "observed range. Alternative at extreme scale: per-day HLL "
    "sketches merged across the window — IMPLEMENTED as "
    "operators/olap.py:sliding_distinct_hll (shuffles days×|days| "
    "few-KB sketches instead of days×|user-days| rows) and asserted "
    "within HLL error of this exact variant in tests/test_scale_ops; "
    "this query is the exact oracle-checkable form.",
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # rolling reach is a day series: NULL event times are not days,
    # excluded on both engines (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    win = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.date_sub("d", SLIDE_DAYS - 1), F.col("d"))
        ).alias("w"),
    )
    return (
        win.groupBy(F.date_format("w", "yyyy-MM-dd").alias("win_start"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (SELECT event_type,
                          strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                          {o_poisoned('value')} AS pois,
                          {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(30,6)))", 6)} AS v
                   FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    st AS (SELECT event_type,
                  {o_dec_to_double("SUM(CAST(v AS DECIMAL(30,6)))", 6)} AS tot,
                  COUNT(*) AS n_days,
                  BOOL_OR(pois) AS pois_t
           FROM daily GROUP BY 1),
    c AS (SELECT d.event_type, d.day, st.n_days, st.pois_t,
                 {o_dec_to_double(_O_CUSUM_RUN, 6)} AS cusum
          FROM daily d JOIN st ON d.event_type = st.event_type),
    r AS (SELECT event_type, day, n_days, pois_t, abs(cusum) AS a,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY abs(cusum) DESC, day) AS rn
          FROM c)
    -- poison -> NULL: a type with any non-finite value reports NULL
    -- change point (a CUSUM over a silently-short daily sum would
    -- locate a phantom shift); n_days stays (/tmp/skew7)
    SELECT event_type,
           CASE WHEN NOT pois_t THEN day END AS change_day,
           CASE WHEN NOT pois_t THEN a END AS max_abs_cusum,
           CAST(n_days AS BIGINT) AS n_days
    FROM r WHERE rn = 1
    """,
    tier="B",
    doc="CUSUM changepoint detection per event type: the day where the "
    "cumulative deviation of the daily value-sum from the type's mean "
    "peaks in magnitude — the standard Page/CUSUM location estimate "
    "for a single level shift. Plan: one shuffle to daily grains, then "
    "per-type mean, running sum, and argmax ALL as windows sharing one "
    "event_type exchange (no second aggregate, no join-back) — the raw "
    "event table is touched once. Determinism: the running sum is over DECIMAL-"
    "quantized deviations, so it is exact and reduction-order-free "
    "(a raw double running sum could diverge between engines if one "
    "combines window partials pairwise); deviations themselves are "
    "arithmetic on bit-identical doubles. Ties on |cusum| break by "
    "earliest day. At 100 TB the daily grain table is tiny; the "
    "window partitions by type — bounded state per group.",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # CUSUM runs over the ORDERED day series: a NULL event time has no
    # place in the series, excluded on both engines (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(
        poisoned_flag("value").alias("pois"),
        dsum(F.col("value").cast("decimal(30,6)"), 6).alias("v"),
    )
    # Per-type mean via FULL-PARTITION windows instead of a second
    # aggregate + broadcast join-back: the daily grain is tiny, all
    # three windows share one event_type exchange (Catalyst reuses it;
    # the ordered ones add only a sort), and dropping the join's
    # broadcast materialization measures ~25% faster at sf0.1 with
    # byte-identical output. Same decimal-exact arithmetic.
    wfull = Window.partitionBy("event_type")
    tot = dec_to_double(F.sum(F.col("v").cast("decimal(30,6)")).over(wfull), 6)
    n_days = F.count("*").over(wfull)
    pois_t = F.max("pois").over(wfull)
    dev = (F.col("v") - tot / n_days).cast("decimal(30,6)")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        daily.withColumn("n_days", n_days)
        .withColumn("pois_t", pois_t)
        .withColumn("cusum", dec_to_double(F.sum(dev).over(wrun), 6))
        .withColumn("a", F.abs("cusum"))
    )
    wpick = Window.partitionBy("event_type").orderBy(F.desc("a"), "day")
    # poison -> NULL change point for a poisoned type (/tmp/skew7)
    ok = ~F.col("pois_t")
    return (
        c.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.when(ok, F.col("day")).alias("change_day"),
            F.when(ok, F.col("a")).alias("max_abs_cusum"),
            F.col("n_days").cast("bigint").alias("n_days"),
        )
    )


@register(
    "q_scd2_intervals",
    oracle="""
    WITH o AS (SELECT user_id, event_type, ts, event_id,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events WHERE ts IS NOT NULL),
    chg AS (SELECT user_id, event_type AS state, ts AS valid_from
            FROM o WHERE prev IS NULL OR prev <> event_type),
    iv AS (SELECT user_id, state, valid_from,
                  LEAD(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY valid_from) AS valid_to
           FROM chg)
    SELECT user_id, state, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM iv
    """,
    tier="B",
    doc="Slowly-changing-dimension (type 2) reconstruction from an event "
    "log: collapse each user's event-type stream into validity "
    "intervals [valid_from, valid_to) that change only when the state "
    "changes — the standard history-table build (Kimball SCD2) that "
    "turns an append-only log into an as-of-joinable dimension "
    "(pair with q_asof_join to enrich facts with the state in force "
    "at fact time). Two windows over the same user partitioning — "
    "Catalyst reuses ONE sort+shuffle for the lag and the lead since "
    "both key by user — and a filter between them; the log is read "
    "once. Ties at identical timestamps order by event_id, making "
    "the interval set deterministic. TIMESTAMP outputs render "
    "symmetrically across engines (DATE would not).",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # validity intervals are anchored AT event times: a NULL ts row
    # cannot open or close one (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.withColumn("prev", F.lag("event_type").over(wlag))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
        )
    )
    wlead = Window.partitionBy("user_id").orderBy("valid_from")
    return chg.withColumn(
        "valid_to", F.lead("valid_from").over(wlead)
    ).withColumn("is_current", F.col("valid_to").isNull())


@register(
    "q_ks_drift",
    oracle=f"""
    -- value IS NOT NULL: a CDF is defined over values (null_rate is a
    -- separate monitor), and a NULL in the cumulative window's ORDER
    -- BY would inherit each engine's different default null placement
    -- (/tmp/skew4).
    WITH g AS (SELECT event_type, value,
                      CAST(count_if(ts <  TIMESTAMP '{KS_CUT}') AS BIGINT) AS c1,
                      CAST(count_if(ts >= TIMESTAMP '{KS_CUT}') AS BIGINT) AS c2
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2
          FROM g GROUP BY 1),
    c AS (SELECT g.event_type, t.n1, t.n2,
                 SUM(g.c1) OVER w AS cc1, SUM(g.c2) OVER w AS cc2
          FROM g JOIN t ON g.event_type = t.event_type
          WINDOW w AS (PARTITION BY g.event_type ORDER BY g.value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type,
           CAST(MAX(abs(cc1 * n2 - cc2 * n1)) AS BIGINT) AS d_scaled,
           CAST(MAX(abs(cc1 * n2 - cc2 * n1)) AS DOUBLE) / (MAX(n1) * MAX(n2))
             AS ks_stat,
           MAX(n1) AS n_first, MAX(n2) AS n_second
    FROM c GROUP BY event_type
    """,
    tier="B",
    doc="Two-sample Kolmogorov-Smirnov drift per event type: the max "
    "gap between the empirical CDFs of `value` in the first vs second "
    "half of the month — the distribution-shift alarm a data-quality "
    "monitor runs per feature per period (did this column's "
    "distribution move?). ALL-INTEGER core: per distinct value the "
    "two cumulative counts are integers, and the CDF gap is compared "
    "as |cc1·n2 − cc2·n1| (the cross-multiplied form), so the max is "
    "exact on both engines; the reported ks_stat is ONE division of "
    "identical integers. Scaled magnitude n1·n2 ≤ ~10¹² at sf1 — "
    "inside 2^53. Plan: one shuffle to (type, value) grains with "
    "map-side conditional counts, broadcast totals, one ordered "
    "window for the running CDFs, final max — events scanned once. "
    "Window state is one row per distinct value per type, bounded.",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value IS NOT NULL — see the oracle note (/tmp/skew4 null policy).
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cut = F.lit(KS_CUT).cast("timestamp")
    g = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0)).alias("c2"),
    )
    t = g.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        g.join(F.broadcast(t), "event_type")
        .withColumn("cc1", F.sum("c1").over(w))
        .withColumn("cc2", F.sum("c2").over(w))
    )
    d = F.abs(F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1"))
    return (
        c.groupBy("event_type")
        .agg(
            F.max(d).cast("bigint").alias("d_scaled"),
            (
                F.max(d).cast("double") / (F.max("n1") * F.max("n2"))
            ).alias("ks_stat"),
            F.max("n1").alias("n_first"),
            F.max("n2").alias("n_second"),
        )
    )


@register(
    "q_semi_additive",
    oracle=f"""
    WITH r AS (SELECT user_id, value,
                      strftime(ts, '%Y-%m') AS month,
                      ROW_NUMBER() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m')
                                         ORDER BY ts DESC, event_id DESC) AS rn
               FROM events),
    last AS (SELECT user_id, month, value FROM r WHERE rn = 1)
    -- poison -> NULL month total when any CLOSING balance is
    -- non-finite (only last observations enter the sum; /tmp/skew7)
    SELECT month,
           COUNT(*) AS n_users,
           CASE WHEN NOT {o_poisoned('value')} THEN
           {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(30,6)))", 6)}
           END AS total_balance
    FROM last GROUP BY month
    """,
    tier="B",
    doc="Semi-additive aggregation (balance semantics): `value` is "
    "treated as an account balance — additive across USERS, not "
    "across TIME — so the month total is the sum of each user's LAST "
    "observation in the month, not the sum of all observations (the "
    "textbook semi-additive-measure pattern for balances/inventory "
    "levels). Plan: one window per (user, month) picks the closing "
    "row (ties at the same timestamp break by event_id), one shuffle "
    "aggregates the survivors; the closing-balance sum is DECIMAL-"
    "quantized → reduction-order-free and engine-identical. The "
    "window partitions by (user, month) — state bounded by one "
    "user-month, embarrassingly parallel at 100 TB.",
)
def q_semi_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    month = F.date_format("ts", "yyyy-MM").alias("month")
    w = Window.partitionBy("user_id", "month").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last = (
        ev.select("user_id", "value", "ts", "event_id", month)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return last.groupBy("month").agg(
        F.count("*").alias("n_users"),
        # poison -> NULL month total (closing balances only; /tmp/skew7)
        F.when(
            ~poisoned_flag("value"),
            dsum(F.col("value").cast("decimal(30,6)"), 6),
        ).alias("total_balance"),
    )


#: Minimum users sharing a pair for it to count as frequent.
ITEMSET_MIN_SUPPORT = 2

#: Top-k for the trigram path mining.
TRIGRAM_TOP_K = 25


@register(
    "q_itemset_pairs",
    oracle=f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    p AS (SELECT a.user_id, a.event_type AS item_a, b.event_type AS item_b
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type)
    SELECT item_a, item_b, COUNT(*) AS support
    FROM p GROUP BY item_a, item_b
    HAVING COUNT(*) >= {ITEMSET_MIN_SUPPORT}
    """,
    tier="B",
    doc="Frequent-itemset pairs (the A-Priori L2 step): for every pair "
    "of event types, how many users exhibit BOTH — the co-occurrence "
    "support driving market-basket / feature-co-usage analyses. Scale "
    "shape: dedup to distinct (user, item) FIRST (the only pass over "
    "raw events), then a self-equi-join on user generates each user's "
    "item pairs — per-user work is |items|², bounded by the ITEM "
    "DOMAIN (5 types here), never by event count; the pair aggregate "
    "shuffles a domain²-bounded key space. The support threshold "
    "prunes the long tail exactly like A-Priori's min-support. A "
    "high-cardinality item domain would switch to the PCY bucket-"
    "hash variant — same plan with a hashed pair key.",
)
def q_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("item_a"))
    b = ut.select("user_id", F.col("event_type").alias("item_b"))
    return (
        a.join(b, "user_id")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= ITEMSET_MIN_SUPPORT)
    )


@register(
    "q_event_trigrams",
    oracle=f"""
    WITH o AS (SELECT user_id, event_type, ts, event_id,
                      LEAD(event_type, 1) OVER w AS nxt1,
                      LEAD(event_type, 2) OVER w AS nxt2
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type || '>' || nxt1 || '>' || nxt2 AS trigram,
           COUNT(*) AS n
    FROM o WHERE nxt2 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, trigram
    LIMIT {TRIGRAM_TOP_K}
    """,
    tier="B",
    doc=f"Top-{TRIGRAM_TOP_K} behavioral trigrams: the most common "
    "3-step event-type sequences across user streams — sequential "
    "pattern mining's unit query (what paths do users actually "
    "take?), generalizing q_event_transitions' bigram matrix. One "
    "window sort per user (two LEADs share it — one shuffle), then a "
    "partial-aggregating shuffle on the trigram string and a "
    "TakeOrderedAndProject; the per-user window state is one row. "
    "Ties break lexicographically for a total order.",
)
def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    )
    return (
        o.where(F.col("nxt2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "nxt1", "nxt2").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(TRIGRAM_TOP_K)
    )


@register(
    "q_conversion_latency",
    oracle="""
    WITH o AS (SELECT event_type, ts, event_id,
                      last_value(CASE WHEN event_type IN ('view','click')
                                      THEN epoch_us(ts) END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS src_us
               FROM events WHERE ts IS NOT NULL),
    lat AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   epoch_us(ts) - src_us AS lat_us
            FROM o WHERE event_type = 'purchase' AND src_us IS NOT NULL),
    s AS (SELECT day, COUNT(*) AS n,
                 CAST(SUM(lat_us) AS BIGINT) AS sum_us,
                 list_sort(list(lat_us)) AS ls
          FROM lat GROUP BY day)
    SELECT day, CAST(n AS BIGINT) AS n_conversions,
           CAST(ls[(n - 1) // 2 + 1] AS DOUBLE) / 1000000 AS p50_latency_s,
           CAST(ls[((n - 1) * 9) // 10 + 1] AS DOUBLE) / 1000000 AS p90_latency_s,
           CAST(sum_us AS DOUBLE) / n / 1000000 AS mean_latency_s
    FROM s
    """,
    tier="B",
    doc="Funnel conversion latency per day: for every purchase, the time "
    "since the user's most recent preceding view/click (the attribution "
    "lookback), summarized as daily p50/p90/mean — the time-to-convert "
    "report behind funnel dashboards. The carried source timestamp is "
    "one IGNORE-NULLS last_value window over the user's ordered stream "
    "(no self-join, no per-event as-of probe); latencies are INTEGER "
    "microseconds, the percentiles are exact LOWER order statistics "
    "(rank-indexed actual values — the q_mad_outliers pattern; "
    "interpolating percentile formulas differ across engines in "
    "floating form), and the mean is one division of exact integer "
    "sums. One user-window pass over events + one day-keyed shuffle; "
    "per-day window state is the ranked latency list, bounded by daily "
    "conversions.",
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # attribution lookback is a position-in-time relation: NULL event
    # times are excluded on both engines (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    wsrc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    src_us = F.last(
        F.when(
            F.col("event_type").isin("view", "click"), F.unix_micros("ts")
        ),
        ignorenulls=True,
    ).over(wsrc)
    lat = (
        ev.withColumn("src_us", src_us)
        .where((F.col("event_type") == "purchase") & F.col("src_us").isNotNull())
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            (F.unix_micros("ts") - F.col("src_us")).alias("lat_us"),
        )
    )
    wrank = Window.partitionBy("day").orderBy("lat_us")
    wall = Window.partitionBy("day")
    ranked = lat.withColumn("rn", F.row_number().over(wrank)).withColumn(
        "n", F.count("*").over(wall)
    )
    idx50 = (F.col("n") - 1) / F.lit(2)
    p50_hit = F.col("rn") == F.floor(idx50) + 1
    p90_hit = F.col("rn") == F.floor((F.col("n") - 1) * 9 / 10) + 1
    return ranked.groupBy("day").agg(
        F.count("*").alias("n_conversions"),
        (
            F.max(F.when(p50_hit, F.col("lat_us"))).cast("double") / F.lit(1000000)
        ).alias("p50_latency_s"),
        (
            F.max(F.when(p90_hit, F.col("lat_us"))).cast("double") / F.lit(1000000)
        ).alias("p90_latency_s"),
        (
            F.sum("lat_us").cast("double") / F.count("*") / F.lit(1000000)
        ).alias("mean_latency_s"),
    )


#: Snapshot cutover for the incremental view maintenance demo: orders
#: before this date are the materialized base; the rest is the delta.
IVM_CUTOVER = "2000-06-01"


@register(
    "q_ivm_join_agg",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_dec_to_double("SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))", 2)}
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tier="B",
    doc="Incremental maintenance of a JOIN-AGGREGATE materialized view "
    "(revenue per market segment over orders ⋈ customer) — the classic "
    "IVM result for insert-only deltas: ΔV = γ(ΔR ⋈ S), so the engine "
    "computes merge(partial(base ⋈ customer), partial(delta ⋈ "
    "customer)) with orders split at a date cutover, while the oracle "
    "recomputes the view in one pass over everything. The green hash "
    "is the machine-checked proof of the maintenance identity — the "
    "property that lets a 100-TB nightly view absorb one day of "
    "orders joined to the (slowly-changing) dimension instead of "
    "re-joining years of history. Extends q_incremental_agg (single-"
    "table partial-state merge) with the join: the DELTA side re-joins "
    "only its own rows to the broadcast dimension. Determinism: "
    "DECIMAL partial sums merged before the single double cast. Both "
    "order scans prune to their half via pushed date predicates; AQE "
    "broadcasts the dimension into both joins.",
)
def q_ivm_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit(f"{IVM_CUTOVER} 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.join(cust, df["o_custkey"] == cust["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("_n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_sv"),
            )
        )

    base = partial(orders.where(F.col("o_orderdate") < cut))
    delta = partial(orders.where(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("_n").alias("n_orders"),
            dsum("_sv", 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Last-touch channel attribution
# --------------------------------------------------------------------------

#: Attribution lookback: a purchase credits its most recent preceding
#: non-purchase touch only if it happened within this many seconds.
ATTRIB_LOOKBACK_S = 3600


@register(
    "q_attrib_channel",
    oracle=f"""
    WITH o AS (SELECT event_type, ts, value,
                      last_value(CASE WHEN event_type <> 'purchase'
                                      THEN event_type END IGNORE NULLS)
                        OVER w AS src_type,
                      last_value(CASE WHEN event_type <> 'purchase'
                                      THEN epoch_us(ts) END IGNORE NULLS)
                        OVER w AS src_us
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (SELECT CASE WHEN src_us IS NULL THEN 'none'
                      WHEN epoch_us(ts) - src_us > {ATTRIB_LOOKBACK_S * 1000000}
                        THEN 'stale'
                      ELSE src_type END AS channel,
                 value
          FROM o WHERE event_type = 'purchase')
    -- poison -> NULL channel revenue when any attributed purchase
    -- value is non-finite; n_purchases stays (/tmp/skew7)
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CASE WHEN NOT {o_poisoned('value')} THEN
           {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(30,6)))", 6)}
           END AS attributed_value
    FROM p GROUP BY channel
    """,
    tier="B",
    doc="Last-touch channel revenue attribution: every purchase credits "
    "its value to the user's most recent PRECEDING non-purchase touch "
    "(view/click/signup/error), downgraded to 'stale' outside the "
    f"{ATTRIB_LOOKBACK_S}s lookback and 'none' when no touch precedes "
    "— the marketing-mix report behind channel budgets, and the "
    "VALUE-attribution sibling of q_conversion_latency's timing "
    "report. The source type and source timestamp carry through TWO "
    "IGNORE-NULLS last_value windows with the IDENTICAL predicate, "
    "frame, and sort — Catalyst collapses them into one Window node "
    "over one user-keyed sort, and identical predicates guarantee "
    "both pick the same source row (no self-join, no per-purchase "
    "as-of probe). Attribution classification is integer-microsecond "
    "arithmetic; revenue sums on the decimal grid. One user-window "
    "pass + one channel-keyed aggregate.",
)
def q_attrib_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wsrc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    src_type = F.last(
        F.when(non_purchase, F.col("event_type")), ignorenulls=True
    ).over(wsrc)
    src_us = F.last(
        F.when(non_purchase, F.unix_micros("ts")), ignorenulls=True
    ).over(wsrc)
    p = (
        ev.select(
            "*", src_type.alias("src_type"), src_us.alias("src_us")
        )
        .where(F.col("event_type") == "purchase")
        .select(
            F.when(F.col("src_us").isNull(), "none")
            .when(
                F.unix_micros("ts") - F.col("src_us")
                > ATTRIB_LOOKBACK_S * 1_000_000,
                "stale",
            )
            .otherwise(F.col("src_type"))
            .alias("channel"),
            "value",
        )
    )
    return p.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        # poison -> NULL channel revenue (/tmp/skew7)
        F.when(
            ~poisoned_flag("value"),
            dsum(F.col("value").cast("decimal(30,6)"), 6),
        ).alias("attributed_value"),
    )


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------

#: Number of bands per RFM dimension (quintiles).
RFM_BANDS = 5

#: Microseconds per day (integer — recency is exact integer days).
_US_PER_DAY = 86_400_000_000


def _rfm_band_cte(metric_cte: str, col: str) -> str:
    """Distinct-value quintile banding (the q_lift_bands integer rule):
    band = ceil(B * cum_n / N) over distinct metric values ascending."""
    return f"""(SELECT {col} AS v,
                      ({RFM_BANDS} * SUM(n) OVER (ORDER BY {col})
                        + SUM(n) OVER () - 1) // SUM(n) OVER () AS band
               FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS n
                     FROM {metric_cte} GROUP BY {col}))"""


@register(
    "q_rfm_segments",
    oracle=f"""
    WITH m AS (SELECT o_custkey,
                      (SELECT MAX(epoch_us(o_orderdate)) FROM orders) AS ref_us,
                      MAX(epoch_us(o_orderdate)) AS last_us,
                      CAST(COUNT(*) AS BIGINT) AS n_orders,
                      {o_dec_to_double("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)}
                        AS monetary
               FROM orders GROUP BY o_custkey),
    u AS (SELECT o_custkey,
                 (ref_us - last_us) // {_US_PER_DAY} AS recency_days,
                 n_orders, monetary
          FROM m),
    rb AS {_rfm_band_cte('u', 'recency_days')},
    fb AS {_rfm_band_cte('u', 'n_orders')},
    mb AS {_rfm_band_cte('u', 'monetary')}
    SELECT CAST(rb.band AS INT) AS r_band,
           CAST(fb.band AS INT) AS f_band,
           CAST(mb.band AS INT) AS m_band,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {o_dec_to_double("SUM(CAST(u.monetary AS DECIMAL(30,6)))", 6)}
             AS segment_value
    FROM u JOIN rb ON u.recency_days = rb.v
           JOIN fb ON u.n_orders = fb.v
           JOIN mb ON u.monetary = mb.v
    GROUP BY 1, 2, 3
    """,
    tier="B",
    doc=f"RFM (recency / frequency / monetary) customer segmentation — "
    "the classic marketing-warehouse cube: per customer, days since "
    "last order (vs the corpus max date, so the query is "
    "wall-clock-free), order count, and lifetime spend, each banded "
    f"into {RFM_BANDS} quintiles by the integer ceil-division rule "
    "shared with q_lift_bands (band boundaries never split ties, no "
    "float cutpoints), then rolled up to segment population and "
    "value. Scale shape: per-customer metrics are one "
    "partial-aggregating shuffle; each banding window runs over the "
    "DISTINCT-VALUE table of its metric, not the customer table; "
    "band assignment joins back ON THE METRIC VALUE (recency and "
    "frequency tables are near-constant-size and broadcast; the "
    "monetary join is value-keyed, bounded by |customers|). "
    "Determinism: recency is integer-µs floor-division; spend sums "
    "on the exact-cents decimal grid; the final segment regroup "
    f"carries ≤{RFM_BANDS}³ rows.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy("o_custkey").agg(
        F.max(F.unix_micros("o_orderdate")).alias("last_us"),
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice").cast("decimal(18,2)"), 2).alias(
            "monetary"
        ),
    )
    ref = orders.agg(F.max(F.unix_micros("o_orderdate")).alias("ref_us"))
    u = m.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.expr(f"(ref_us - last_us) div {_US_PER_DAY}").alias("recency_days"),
        "n_orders",
        "monetary",
    )
    # The customer-metric table feeds FOUR consumers (three band value
    # tables + the final segment join); a lazy localCheckpoint
    # materializes the orders scan + per-customer aggregate once
    # instead of once per consumer — at 100 TB that is one fact scan
    # instead of four.
    u = u.localCheckpoint(eager=False)

    def band(col: str) -> DataFrame:
        # the cumulative windows run one task over the pre-aggregated
        # value-domain table (one row per distinct metric value)
        vals = u.groupBy(col).agg(F.count("*").alias("n"))
        vals = vals.withColumn(
            "cum_n",
            F.sum("n").over(
                Window.orderBy(col).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        vals = vals.withColumn("n_g", F.sum("n").over(Window.partitionBy()))
        return vals.select(
            F.col(col).alias("v"),
            F.expr(f"({RFM_BANDS} * cum_n + n_g - 1) div n_g").alias("band"),
        )

    rb = band("recency_days").withColumnsRenamed({"v": "recency_days", "band": "r_band"})
    fb = band("n_orders").withColumnsRenamed({"v": "n_orders", "band": "f_band"})
    mb = band("monetary").withColumnsRenamed({"v": "monetary", "band": "m_band"})
    seg = (
        u.join(F.broadcast(rb), "recency_days")
        .join(F.broadcast(fb), "n_orders")
        .join(mb, "monetary")
    )
    return seg.groupBy(
        F.col("r_band").cast("int").alias("r_band"),
        F.col("f_band").cast("int").alias("f_band"),
        F.col("m_band").cast("int").alias("m_band"),
    ).agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("monetary").cast("decimal(30,6)"), 6).alias(
            "segment_value"
        ),
    )


# --------------------------------------------------------------------------
# Rolling window correlation
# --------------------------------------------------------------------------

#: Rolling-correlation pair (daily value sums of these event types) and
#: trailing window width in days.
ROLLCORR_X = "click"

#: Rolling-corr nano-unit grid: inputs snap ONCE to a 1e-9 absolute
#: grid; every moment after that is exact integer arithmetic. Supported
#: input magnitude |x| <= ~1e6 (daily aggregates; pre-scale beyond
#: that) so a frame-centered value fits 51 bits and its limb products
#: fit int64.
RC_UNIT = 1_000_000_000

#: Resolution floor: frames whose (quantized) per-series stddev is at
#: or below 1e4 nano-units (= 1e-5 in value units) report NULL — below
#: ~1e4x the grid step a "correlation" would measure the grid, not the
#: data. The guard compares exact-derived doubles identically on both
#: engines, so it is deterministic even at the boundary.
RC_MIN_SIGMA_UNITS = 10_000

#: Limb split width for centered nano-values: dx < 2^51 splits into
#: hi = dx >> 26 (< 2^25) and lo = dx & (2^26 - 1), so every pairwise
#: limb product summed over a frame stays inside int64 (max ~2^55).
_RC_SHIFT = 26
_RC_MASK = (1 << _RC_SHIFT) - 1


def rolling_corr_frame(daily: DataFrame, days: int) -> DataFrame:
    """Trailing-window Pearson correlation over a (day, x, y) series —
    the q_rolling_corr core, shared with the property tests (which
    compare it against numpy on generated series).

    Round-7 rewrite (fixes the round-6 VERDICT finding: micro-unit
    flooring of x*x/x*y drifted corr by up to 3% on low-variance
    frames). Strategy — exact after one snap:

    1. Snap x, y ONCE to the 1e-9 grid (floor -> long). The only
       approximation in the whole operator is this input snap; with
       the RC_MIN_SIGMA_UNITS guard the worst corr perturbation is
       ~1e-4 of the signal.
    2. Per-frame MIN-centering (Pearson is translation-invariant):
       one window pass computes each frame's min; centered values
       are small non-negative longs, which kills the catastrophic
       n*Sxx - Sx^2 cancellation (a frame with stddev s spans at
       most ~2*sqrt(n)*s, so the subtraction loses only O(n) bits).
    3. Frame membership by exploding `days` offsets and equi-joining
       on target index — no range join, no per-frame state; at 100 TB
       the series is day-grain per entity (add the entity key to the
       partition/join columns) so the explode factor is `days` on an
       already-tiny table.
    4. Exact moment sums via the q_corr_matrix LIMB-SPLIT trick:
       centered products accumulate as three int64 partial sums per
       moment (hi*hi, hi*lo(+lo*hi), lo*lo) — order-free int64 sums at
       native long speed (deterministic and exact up to one final
       rounding: the hl partial can reach ~7*2^51 > 2^53, so its
       int64->double cast may round ~1 ulp — identically on both
       engines, since both use the same IEEE cast) — and reassemble in
       DOUBLE with the identical IEEE expression tree on both
       engines. (A DECIMAL(38) sum would be exact too, but DuckDB's
       int128->double cast double-rounds ~1% of 64+-bit values, so
       big decimals must never reach a float cast.)
    """
    # Optional poison propagation (the /tmp/skew7 contract): when the
    # caller's daily frame carries a boolean `pois` column, any frame
    # touching a poisoned day reports NULL instead of a correlation
    # computed over a silently-shortened day sum. Callers without the
    # column (the property tests' finite series) are unchanged.
    has_pois = "pois" in daily.columns
    q = daily.select(
        "day",
        *(["pois"] if has_pois else []),
        F.floor(F.col("x") * F.lit(RC_UNIT)).cast("long").alias("qx"),
        F.floor(F.col("y") * F.lit(RC_UNIT)).cast("long").alias("qy"),
    )
    wo = Window.orderBy("day")
    wf = wo.rowsBetween(-(days - 1), Window.currentRow)
    base = q.select(
        "day",
        F.row_number().over(wo).alias("idx"),
        "qx",
        "qy",
        F.min("qx").over(wf).alias("minx"),
        F.min("qy").over(wf).alias("miny"),
        *(
            [(F.max(F.col("pois").cast("int")).over(wf) == 1).alias("poisw")]
            if has_pois
            else []
        ),
    )
    # base feeds BOTH the target and member sides of the frame join; a
    # lazy localCheckpoint materializes the day-grain series once so
    # the upstream fact scan + aggregate never runs twice (the
    # q_rfm_segments multi-consumer rule; base is day-domain tiny)
    base = base.localCheckpoint(eager=False)
    targets = base.select(
        F.col("idx").alias("t_idx"),
        "day",
        "minx",
        "miny",
        *(["poisw"] if has_pois else []),
    )
    members = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("off"),
        "idx",
        F.col("qx").alias("mqx"),
        F.col("qy").alias("mqy"),
    ).select(
        (F.col("idx") + F.col("off")).alias("t_idx"), "mqx", "mqy"
    )
    dx = F.col("mqx") - F.col("minx")
    dy = F.col("mqy") - F.col("miny")
    ax, bx = F.shiftright(dx, _RC_SHIFT), dx.bitwiseAND(F.lit(_RC_MASK))
    ay, by = F.shiftright(dy, _RC_SHIFT), dy.bitwiseAND(F.lit(_RC_MASK))
    g = (
        members.join(targets, "t_idx")
        .groupBy("t_idx", "day", *(["poisw"] if has_pois else []))
        .agg(
            F.count("*").alias("n"),
            F.sum(dx).alias("sx"),
            F.sum(dy).alias("sy"),
            F.sum(ax * ax).alias("xx_hh"),
            F.sum(ax * bx).alias("xx_hl"),
            F.sum(bx * bx).alias("xx_ll"),
            F.sum(ay * ay).alias("yy_hh"),
            F.sum(ay * by).alias("yy_hl"),
            F.sum(by * by).alias("yy_ll"),
            F.sum(ax * ay).alias("xy_hh"),
            F.sum(ax * by + bx * ay).alias("xy_hl"),
            F.sum(bx * by).alias("xy_ll"),
        )
    )
    hi2 = float(1 << (2 * _RC_SHIFT))
    hl_xx = float(1 << (_RC_SHIFT + 1))  # 2*a*b term of a square
    hl_xy = float(1 << _RC_SHIFT)  # cross term already counts both
    n_d = F.col("n").cast("double")

    def rebuild(p: str, hl_coef: float):
        return (
            F.col(f"{p}_hh").cast("double") * F.lit(hi2)
            + F.col(f"{p}_hl").cast("double") * F.lit(hl_coef)
            + F.col(f"{p}_ll").cast("double")
        )

    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    varx = n_d * rebuild("xx", hl_xx) - sx_d * sx_d
    vary = n_d * rebuild("yy", hl_xx) - sy_d * sy_d
    cov = n_d * rebuild("xy", hl_xy) - sx_d * sy_d
    sig_floor = n_d * n_d * F.lit(float(RC_MIN_SIGMA_UNITS) ** 2)
    corr = F.when(
        (F.col("n") >= 2) & (varx > sig_floor) & (vary > sig_floor),
        F.least(
            F.lit(1.0),
            F.greatest(F.lit(-1.0), cov / (F.sqrt(varx) * F.sqrt(vary))),
        ),
    )
    if has_pois:
        corr = F.when(~F.col("poisw"), corr)
    return g.select(
        "day",
        F.col("n").alias("n_days"),
        corr.alias("roll_corr"),
    )
ROLLCORR_Y = "purchase"
ROLLCORR_DAYS = 7


def _rc_limb_sums(v: str) -> str:
    """SQL limb partial sums for the centered nano-unit column pair
    ``{v}x``/``{v}y`` (the caller's CTE names its columns dx/dy and
    passes v='d')."""
    out = []
    for p, a, b in (
        ("xx", f"{v}x", f"{v}x"),
        ("yy", f"{v}y", f"{v}y"),
        ("xy", f"{v}x", f"{v}y"),
    ):
        hh = f"({a} >> {_RC_SHIFT}) * ({b} >> {_RC_SHIFT})"
        if p == "xy":
            hl = (
                f"({a} >> {_RC_SHIFT}) * ({b} & {_RC_MASK})"
                f" + ({a} & {_RC_MASK}) * ({b} >> {_RC_SHIFT})"
            )
        else:
            hl = f"({a} >> {_RC_SHIFT}) * ({b} & {_RC_MASK})"
        ll = f"({a} & {_RC_MASK}) * ({b} & {_RC_MASK})"
        out.append(f"CAST(SUM({hh}) AS BIGINT) AS {p}_hh")
        out.append(f"CAST(SUM({hl}) AS BIGINT) AS {p}_hl")
        out.append(f"CAST(SUM({ll}) AS BIGINT) AS {p}_ll")
    return ",\n             ".join(out)


def _rc_rebuild(p: str) -> str:
    """Reassemble an exact limb-split moment in DOUBLE — the identical
    IEEE expression tree the Spark plan uses (hh*2^52 + hl*coef + ll),
    so both engines produce bit-equal doubles."""
    hl_coef = float(1 << (_RC_SHIFT + (0 if p == "xy" else 1)))
    return (
        f"CAST({p}_hh AS DOUBLE) * {float(1 << (2 * _RC_SHIFT))!r}"
        f" + CAST({p}_hl AS DOUBLE) * {hl_coef!r}"
        f" + CAST({p}_ll AS DOUBLE)"
    )


def _rc_var(p: str, s: str) -> str:
    return (
        f"CAST(n AS DOUBLE) * ({_rc_rebuild(p)})"
        f" - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE)"
    )


_RC_COV = (
    f"CAST(n AS DOUBLE) * ({_rc_rebuild('xy')})"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
)
_RC_FLOOR = (
    f"CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {float(RC_MIN_SIGMA_UNITS) ** 2!r}"
)


@register(
    "q_rolling_corr",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             {o_poisoned('value')} AS pois,
             COALESCE({o_dec_to_double(_O_RC_SUM.format(t=ROLLCORR_X), 6)}, 0.0) AS x,
             COALESCE({o_dec_to_double(_O_RC_SUM.format(t=ROLLCORR_Y), 6)}, 0.0) AS y
      FROM events WHERE event_type IN ('{ROLLCORR_X}', '{ROLLCORR_Y}')
        AND ts IS NOT NULL
      GROUP BY 1),
    q AS (SELECT day, pois,
                 CAST(floor(x * {RC_UNIT}) AS BIGINT) AS qx,
                 CAST(floor(y * {RC_UNIT}) AS BIGINT) AS qy
          FROM daily),
    base AS (SELECT day,
                    row_number() OVER (ORDER BY day) AS idx,
                    qx, qy,
                    min(qx) OVER w AS minx,
                    min(qy) OVER w AS miny,
                    -- frame-level poison: any poisoned day in the
                    -- trailing window NULLs that frame's corr below
                    BOOL_OR(pois) OVER w AS poisw
             FROM q
             WINDOW w AS (ORDER BY day
                          ROWS BETWEEN {ROLLCORR_DAYS - 1} PRECEDING AND CURRENT ROW)),
    pairs AS (SELECT t.idx AS t_idx, t.day, t.poisw,
                     m.qx - t.minx AS dx, m.qy - t.miny AS dy
              FROM base t JOIN base m
                ON m.idx BETWEEN t.idx - {ROLLCORR_DAYS - 1} AND t.idx),
    g AS (SELECT t_idx, day, poisw,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dy) AS BIGINT) AS sy,
             {_rc_limb_sums("d")}
          FROM pairs GROUP BY t_idx, day, poisw)
    SELECT day, n AS n_days,
           CASE WHEN NOT poisw AND n >= 2
                 AND {_rc_var("xx", "sx")} > {_RC_FLOOR}
                 AND {_rc_var("yy", "sy")} > {_RC_FLOOR}
           THEN least(1.0, greatest(-1.0,
               ({_RC_COV})
                 / (sqrt({_rc_var("xx", "sx")}) * sqrt({_rc_var("yy", "sy")}))))
           END AS roll_corr
    FROM g
    """,
    tier="B",
    doc=f"Trailing {ROLLCORR_DAYS}-day rolling Pearson correlation "
    f"between the daily {ROLLCORR_X!r} and {ROLLCORR_Y!r} value series "
    "— the co-movement monitor behind 'did these two metrics "
    "decouple this week?' alerts. Exact after one snap: inputs "
    "quantize ONCE to the 1e-9 grid, frames min-center (kills the "
    "n*Sxx - Sx^2 cancellation that made the round-6 micro-unit "
    "version drift up to 3% on low-variance frames), and moments "
    "accumulate via the q_corr_matrix limb-split (three int64 "
    "partial sums per moment — reduction-order-free, no decimal "
    "tax, and never a >64-bit value at a float cast, where "
    "DuckDB's int128->double double-rounds). Frames with stddev "
    "<= 1e-5 report NULL by contract: that is the grid's "
    "resolution floor, and a guarded NULL beats a confidently "
    "wrong correlation. Scale: the frame explodes into "
    f"{ROLLCORR_DAYS} equi-join contributions on the DAY-GRAIN "
    "table (one partial-aggregating shuffle from raw events, then "
    "day-grain work); at 100 TB the pattern partitions by entity "
    "(pair/region/tenant) — bounded frame state per key either way.",
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        # the trailing frame rides the ORDERED day series: NULL event
        # times are not days, excluded on both engines (skew10 policy)
        F.col("event_type").isin(ROLLCORR_X, ROLLCORR_Y)
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        # per-day poison flag, propagated frame-level by the helper
        poisoned_flag("value").alias("pois"),
        # coalesce(·, 0): a day where only one of the two event types
        # occurred must contribute value-sum 0 for the missing series,
        # not NULL — otherwise the frame's COUNT(*) counts the day while
        # the moment sums skip it and roll_corr is not the Pearson
        # correlation of any well-defined sample.
        F.coalesce(
            dec_to_double(
                F.sum(
                    F.when(
                        F.col("event_type") == ROLLCORR_X,
                        F.col("value").cast("decimal(30,6)"),
                    )
                ),
                6,
            ),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            dec_to_double(
                F.sum(
                    F.when(
                        F.col("event_type") == ROLLCORR_Y,
                        F.col("value").cast("decimal(30,6)"),
                    )
                ),
                6,
            ),
            F.lit(0.0),
        ).alias("y"),
    )
    return rolling_corr_frame(daily, ROLLCORR_DAYS)


# --------------------------------------------------------------------------
# Top user paths
# --------------------------------------------------------------------------

#: Per-user event cap and result size for q_top_paths.
PATH_MAX_EVENTS = 8
PATH_TOPK = 15


@register(
    "q_top_paths",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ordered WHERE rn <= {PATH_MAX_EVENTS}
      GROUP BY user_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT {PATH_TOPK}
    """,
    tier="B",
    doc=f"Top-{PATH_TOPK} user journeys: each user's first "
    f"{PATH_MAX_EVENTS} events (event-time order, event_id tiebreak) "
    "concatenated into a path string, counted across users — the "
    "'what do people actually do' product-analytics staple next to "
    "q_funnel (which checks ONE prescribed order; this surfaces the "
    "orders that exist). The per-user cap is the scale guard: an "
    "uncapped path column is unbounded row width and unbounded "
    "distinct-path cardinality, so production always reports "
    "prefix-paths. One user-partitioned window (shared sort), one "
    "per-user aggregate, one path count, TakeOrdered for the top-k "
    "with a path tiebreak.",
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # a journey is an IN-TIME order: NULL event times have no position
    # in it, excluded on both engines (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= PATH_MAX_EVENTS)
    paths = ordered.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(PATH_TOPK)
    )


@register(
    "q_survival_hazard",
    oracle="""
    WITH u AS (SELECT user_id,
                      CAST(epoch_us(MIN(ts)) // 86400000000 AS BIGINT) AS first_d,
                      CAST(epoch_us(MAX(ts)) // 86400000000 AS BIGINT) AS last_d
               FROM events GROUP BY user_id),
    hz AS (SELECT CAST(MAX(last_d) OVER () AS BIGINT) AS horizon, * FROM u),
    lf AS (SELECT last_d - first_d AS lifetime,
                  CASE WHEN last_d >= horizon THEN 1 ELSE 0 END AS censored
           FROM hz),
    g AS (SELECT lifetime,
                 CAST(COUNT(*) AS BIGINT) AS n_ending,
                 CAST(SUM(1 - censored) AS BIGINT) AS deaths
          FROM lf GROUP BY lifetime),
    r AS (SELECT lifetime, n_ending, deaths,
                 CAST(SUM(n_ending) OVER (ORDER BY lifetime DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS at_risk
          FROM g)
    SELECT lifetime AS age_days, at_risk, deaths,
           CAST(deaths * 1000000 // at_risk AS BIGINT) AS hazard_ppm
    FROM r
    """,
    tier="C",
    doc="Discrete survival/hazard table (the Kaplan-Meier life table on "
    "the event log): a user's lifetime is last-minus-first active day, "
    "users still active on the horizon's final day are CENSORED "
    "(at-risk but not churned — ignoring censoring is the classic "
    "churn-rate inflation), and hazard(a) = churned-at-age-a / "
    "at-risk-at-age-a in exact floor-divided ppm. at_risk comes from a "
    "reverse cumulative sum over the LIFETIME DISTRIBUTION table "
    "(bounded by distinct lifetimes, not users), so the plan is one "
    "user aggregate + one window over a tiny table — 100-TB-safe. "
    "Day indices are exact epoch-us floor-divisions; everything is "
    "integers until the final ppm.",
)
def q_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr("unix_micros(min(ts)) div 86400000000").cast("long").alias("first_d"),
        F.expr("unix_micros(max(ts)) div 86400000000").cast("long").alias("last_d"),
    )
    # the observation-horizon max runs over the pre-aggregated user
    # table and the reverse cumulative over the day-domain life table
    lf = u.withColumn("_mx", F.max("last_d").over(Window.partitionBy())).select(
        (F.col("last_d") - F.col("first_d")).alias("lifetime"),
        F.when(F.col("last_d") >= F.col("_mx"), 1).otherwise(0).alias("censored"),
    )
    g = lf.groupBy("lifetime").agg(
        F.count("*").cast("long").alias("n_ending"),
        F.sum(1 - F.col("censored")).cast("long").alias("deaths"),
    )
    r = g.withColumn(
        "_ar",
        F.sum("n_ending").over(
            Window.orderBy(F.col("lifetime").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    ).select(
        "lifetime",
        "n_ending",
        "deaths",
        F.col("_ar").cast("long").alias("at_risk"),
    )
    return r.select(
        F.col("lifetime").alias("age_days"),
        "at_risk",
        "deaths",
        F.expr("deaths * 1000000 div at_risk").cast("long").alias("hazard_ppm"),
    )
