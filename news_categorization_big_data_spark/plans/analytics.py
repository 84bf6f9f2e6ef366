"""Behavioral event analytics: sessionization, funnels, cohort
retention, recency-weighted aggregates.

The reference's event handling is a flat per-category count stream
(news_categorization_streaming.py:77-96); these queries are the batch
analytics surface a production event table actually gets asked for —
each expressed as window functions + hash aggregates so Catalyst keeps
the whole plan in codegen.

Determinism notes (driver hash parity): all arithmetic stays in the
integer / decimal domain — epoch-µs longs for gaps, integer day
diffs and integer decay weights, decimal money sums — so no result
depends on float reduction order or libm rounding. Window orderings
always carry ``event_id`` as the unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from news_categorization_big_data_spark.functions.cachepin import pin
from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    det_log2_sql,
    o_dec_to_double,
)
from news_categorization_big_data_spark.plans.relational import (
    dsum,
    nonfinite,
    o_fin,
    o_poisoned,
    poisoned_flag,
)
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

#: Session gap: a new session starts after ≥ 6 hours of inactivity.
SESSION_GAP_US = 6 * 3600 * 1_000_000
#: Funnel stage order (subset of the testdata's event_type domain).
FUNNEL_STAGES = ("signup", "click", "purchase")
#: Decay anchor: "today" for the recency weighting, pinned one day past
#: the testdata's event horizon so weights are reproducible constants.
DECAY_ANCHOR = "2024-02-01"
#: Linear decay window in days: weight = max(0, DECAY_WINDOW - age).
DECAY_WINDOW = 31

#: Oracle sub-expressions hoisted for o_dec_to_double (f-string nesting).
_O_HHI_SHARES = (
    "SUM(CAST((r.rev / t.total) * (r.rev / t.total) AS DECIMAL(30,12)))"
)
_O_WINSOR_CLIP = (
    "SUM(CAST((CASE WHEN isfinite(LEAST(GREATEST(e.value, b.lo), b.hi))"
    " THEN LEAST(GREATEST(e.value, b.lo), b.hi) END) AS DECIMAL(18,2)))"
)


@register(
    "q_sessionize",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, ts,
                      CASE WHEN LAG(ts) OVER w IS NULL
                           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                           THEN 1 ELSE 0 END AS new_sess
               FROM events
               WHERE ts IS NOT NULL
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM e)
    SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tier="B",
    doc="Batch sessionization (gaps-and-islands): per user, a new "
    "session starts after a ≥6h silence; session id is the running sum "
    "of new-session flags. One shuffle for the per-user ordered window "
    "(lag + cumulative sum in a single window spec, so Spark sorts each "
    "user's events once), then a partial-aggregating groupBy on "
    "(user_id, session). Gap math is epoch-µs long subtraction — no "
    "float anywhere. A skewed user (one bot carrying a macroscopic "
    "share of the stream) makes that user's window sort one task — a "
    "spill-safe straggler, oracle-MATCH on the hot-user fixture "
    "/tmp/skew2 (functions/sessions.py). The streaming twin is "
    "q_stream_session (session_window); this is the arbitrary-logic "
    "batch shape that handles policies session_window can't (e.g. "
    "activity-type-aware gaps).",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.sessions import sessionize_ids

    ev = load_table(spark, sf_dir, "events")
    return (
        sessionize_ids(ev, SESSION_GAP_US)
        .select("user_id", "ts", "sid")
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("sid").cast("long").alias("session_seq"),
            "session_start",
            "session_end",
            "n_events",
        )
    )


@register(
    "q_funnel",
    oracle=f"""
    -- user_id IS NOT NULL: unauthenticated rows are excluded from
    -- user-level funnels EXPLICITLY. The stage joins already drop
    -- null keys (three-valued logic), but stage 1's bare GROUP BY
    -- kept a phantom null-user — and the Spark window form counted
    -- it through every stage. The /tmp/skew4 null-key fixture caught
    -- the divergence; both sides now state the policy.
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = '{FUNNEL_STAGES[0]}'
                  AND user_id IS NOT NULL GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts >= s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts >= s2.t2
           GROUP BY e.user_id)
    SELECT 1 AS stage, '{FUNNEL_STAGES[0]}' AS event_type,
           (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, '{FUNNEL_STAGES[1]}', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, '{FUNNEL_STAGES[2]}', (SELECT COUNT(*) FROM s3)
    """,
    tier="B",
    doc="Ordered funnel (signup → click-after-signup → "
    "purchase-after-that-click): each stage keeps users whose first "
    "qualifying event is at-or-after their previous stage's timestamp. "
    "Every stage is a filter + per-user min + equi-join on user_id — "
    "all three stages hash-partition on the SAME key, so under AQE the "
    "stage joins reuse the child partitioning instead of re-shuffling "
    "(ensured-requirements alignment), and the final counts are "
    "scalars. Round-7 rewrite: the three stages are SEQUENTIAL "
    "conditional mins over the SAME user partitioning, so they run as "
    "three stacked full-partition windows over ONE user_id exchange — "
    "the previous join-chain form re-evaluated each stage's subtree "
    "per report row (measured 6 parquet scans for a 3-row report; "
    "this form scans events once, and the per-user collapse reuses "
    "the window exchange). The 3 report rows explode from the single "
    "aggregate row (the q_dq_checks pattern). No sort anywhere: "
    "unordered windows and mins only.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit null-user policy (the /tmp/skew4 find): the round-7
    # join-chain → stacked-window rewrite silently CHANGED null-key
    # semantics — a window partitions BY null (one phantom user that
    # can complete the funnel) where the old equi-joins dropped it.
    # User-level funnels exclude unauthenticated rows; the filter also
    # pushes to the scan, dropping the null share before the exchange.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    d = ev.withColumn(
        "_t1",
        F.min(
            F.when(F.col("event_type") == FUNNEL_STAGES[0], F.col("ts"))
        ).over(w),
    )
    d = d.withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STAGES[1])
                & (F.col("ts") >= F.col("_t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "_t3",
        F.min(
            F.when(
                (F.col("event_type") == FUNNEL_STAGES[2])
                & (F.col("ts") >= F.col("_t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.max("_t1").alias("_t1"),
        F.max("_t2").alias("_t2"),
        F.max("_t3").alias("_t3"),
    )
    counts = per_user.agg(
        F.count("_t1").alias("n1"),
        F.count("_t2").alias("n2"),
        F.count("_t3").alias("n3"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(etype).alias("event_type"),
                F.col(f"n{i + 1}").alias("n_users"),
            )
            for i, etype in enumerate(FUNNEL_STAGES)
        ]
    )
    return counts.select(F.explode(rows).alias("_r")).select("_r.*")


@register(
    "q_retention_cohort",
    oracle="""
    -- user_id IS NOT NULL: same explicit policy as q_funnel (the
    -- /tmp/skew4 find — COUNT(DISTINCT user_id) and the join dropped
    -- null users while the Spark single-scan window form counted one
    -- phantom null-user per offset group).
    WITH first AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
                   FROM events WHERE user_id IS NOT NULL
                   GROUP BY user_id)
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
           date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY f.cohort_day, day_offset
    """,
    tier="B",
    doc="Cohort retention matrix: users grouped by first-seen day, "
    "activity counted per (cohort, day offset) — the classic retention "
    "triangle. SINGLE-SCAN plan (round 8, the q_funnel discipline): "
    "dedup to distinct (user, day) pairs — one map-side-combined "
    "shuffle that collapses raw events onto the activity domain — "
    "then min(day) over the user partition gives the cohort without a "
    "join back (the old first-seen-agg + join shape re-scanned events "
    "per consumer: 2 scans, and the full fact table crossed the join "
    "shuffle). Within a (cohort, offset) group each user appears at "
    "most once (distinct days → distinct offsets per user), so "
    "COUNT(*) IS the distinct-user count — no count_distinct expand. "
    "Day math is integer datediff; the cohort renders as an ISO "
    "string so both engines hash the identical value.",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit null-user policy — see q_funnel's note (/tmp/skew4).
    act = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w_u = Window.partitionBy("user_id")
    return (
        act.withColumn("cohort_day", F.min("d").over(w_u))
        .groupBy("cohort_day", F.datediff("d", "cohort_day").alias("day_offset"))
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            "day_offset",
            "n_users",
        )
    )


@register(
    "q_decay_agg",
    oracle=f"""
    SELECT event_type,
           -- poison -> NULL (dsum_fin contract): a non-finite value
           -- NULLs the type's exact sums on both engines; o_fin keeps
           -- DuckDB's decimal cast reachable only for finite rows
           CASE WHEN NOT {o_poisoned('value')} THEN
           {o_dec_to_double(f'''SUM(CAST({o_fin('value')} AS DECIMAL(18,2))
                    * GREATEST(0, {DECAY_WINDOW}
                               - date_diff('day', CAST(ts AS DATE),
                                           DATE '{DECAY_ANCHOR}')))''', 2)}
           END AS decayed_value,
           CASE WHEN NOT {o_poisoned('value')} THEN
           {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(18,2)))", 2)}
           END AS raw_value,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    tier="B",
    doc="Recency-weighted aggregate: per-event weight = "
    f"max(0, {DECAY_WINDOW} − age_days) relative to the pinned anchor "
    f"{DECAY_ANCHOR} (linear/triangular decay — the integer-exact "
    "variant of exponential recency weighting: decimal(value) × "
    "int(weight) is exact, so the sum is reduction-order-independent, "
    "where exp(−λ·age) would hang the hash on libm ulps). The final "
    "decimal→double conversion goes through dec_to_double "
    "(functions/exact.py) so it stays engine-identical past 2^53 "
    "scaled units — a direct cast measurably hash-flips there "
    "(tests/test_overflow_bounds.py), and ~6·10^11 in-domain rows on "
    "one type (the 100-TB shape) crosses it. Map-only "
    "weight computation + one partial-aggregating shuffle on the "
    "5-value event_type key.",
)
def q_decay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    age = F.datediff(F.lit(DECAY_ANCHOR).cast("date"), F.to_date("ts"))
    weight = F.greatest(F.lit(0), F.lit(DECAY_WINDOW) - age)
    dval = F.col("value").cast("decimal(18,2)")
    # poison -> NULL: one flag shared by both exact sums (/tmp/skew7)
    ok = ~poisoned_flag("value")
    return ev.groupBy("event_type").agg(
        F.when(ok, dsum(dval * weight, 2)).alias("decayed_value"),
        F.when(ok, dsum(dval, 2)).alias("raw_value"),
        F.count("*").alias("n_events"),
    )


#: Histogram bucket width for events.value (domain ≈ [0, 500]).
HIST_WIDTH = 50


@register(
    "q_value_histogram",
    oracle=f"""
    SELECT event_type,
           -- non-finite -> NULL bucket (visible row, never Long.MIN):
           -- Spark's floor(NaN) is Long.MIN and DuckDB refuses the
           -- cast; an unmeasurable value has no bucket (/tmp/skew7)
           CAST(floor({o_fin('value')} / {HIST_WIDTH}) AS BIGINT) AS bucket,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type, bucket
    """,
    tier="B",
    doc=f"Fixed-width value histogram per event type (width {HIST_WIDTH}): "
    "bucket = floor(value/width) — one double division (IEEE-identical "
    "on both engines) + exact floor, then a partial-aggregating "
    "shuffle on the (type, bucket) key. The distribution-profiling "
    "primitive: at 100 TB the bucket space stays tiny regardless of "
    "row count, so the final aggregate is dimension-sized.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fin_val = F.when(~nonfinite("value"), F.col("value"))
    bucket = F.floor(fin_val / HIST_WIDTH).alias("bucket")
    return ev.groupBy("event_type", bucket).agg(F.count("*").alias("cnt"))


@register(
    "q_zscore_outliers",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      COUNT(*) AS n,
                      -- poison -> NULL moments: o_fin keeps the decimal
                      -- cast reachable only for finite rows (/tmp/skew7)
                      CASE WHEN NOT {o_poisoned('value')} THEN
                      {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(18,2)))", 2)}
                      END AS s1,
                      CASE WHEN NOT {o_poisoned('value')} THEN
                      {o_dec_to_double(f'''SUM(CAST({o_fin('value')} AS DECIMAL(18,2))
                               * CAST({o_fin('value')} AS DECIMAL(18,2)))''', 4)}
                      END AS s2
               FROM events GROUP BY event_type),
    st AS (SELECT event_type, n, s1 / n AS mean,
                  sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0)) AS std
           FROM s)
    SELECT e.event_type, MAX(st.n) AS n,
           MAX(st.mean) AS mean, MAX(st.std) AS std,
           CAST(count_if(abs(e.value - st.mean) > 2 * st.std) AS BIGINT)
             AS n_outliers
    FROM events e JOIN st ON e.event_type = st.event_type
    GROUP BY e.event_type
    """,
    tier="B",
    doc="Two-sigma outlier detection per event type: moments from "
    "EXACT decimal sums (sum and sum-of-squares are reduction-order-"
    "independent; mean/variance/sqrt then run the identical double "
    "expression on identical inputs on both engines — the only way a "
    "float std is hash-stable), broadcast back over the events for the "
    "outlier count. Two shuffles on the 5-value type key; the stats "
    "side is dimension-sized, so the join is a broadcast at any "
    "scale.",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dval = F.col("value").cast("decimal(18,2)")
    # poison -> NULL moments: a poisoned type yields NULL mean/std and
    # zero outliers on both engines (NULL comparisons count nothing)
    ok = ~poisoned_flag("value")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.when(ok, dsum(dval, 2)).alias("s1"),
        F.when(ok, dsum(dval * dval, 4)).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    st = s.select(
        "event_type",
        "n",
        mean.alias("mean"),
        F.sqrt(F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))).alias("std"),
    )
    return (
        ev.join(F.broadcast(st), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("mean").alias("mean"),
            F.max("std").alias("std"),
            F.count_if(
                F.abs(F.col("value") - F.col("mean")) > 2 * F.col("std")
            ).alias("n_outliers"),
        )
    )


@register(
    "q_join_salted",
    oracle="""
    WITH dim AS (SELECT event_type, COUNT(*) AS type_total
                 FROM events GROUP BY event_type)
    SELECT e.user_id,
           COUNT(*) AS n_events,
           CAST(SUM(dim.type_total) AS BIGINT) AS sum_type_total
    FROM events e JOIN dim ON e.event_type = dim.event_type
    GROUP BY e.user_id
    """,
    tier="B",
    doc="Skew-safe salted join as a first-class query: events are "
    "pathologically skewed on event_type (5 hot keys for the whole "
    "table — the worst equi-join distribution), so the fact side takes "
    "a per-row salt = hash(event_id) % 8 — uniform across a hot key "
    "AND recompute-stable, so a fetch-failure map rerun reassigns no "
    "row to a different bucket (SPARK-23207 class) — and the dimension "
    "is replicated per salt (functions/scale.py salted_join), "
    "spreading each hot key over 8 reducers. The oracle is the PLAIN "
    "join — salting must be semantically invisible. The follow-up "
    "user_id aggregate proves the salt column never leaks into "
    "downstream keys.",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.scale import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("type_total"))
    return (
        salted_join(
            ev.select("user_id", "event_type", "event_id"),
            dim,
            on="event_type",
            salt_on="event_id",
            salt_buckets=8,
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("type_total").alias("sum_type_total"),
        )
    )


@register(
    "q_join_bucketed",
    oracle=f"""
    SELECT c_custkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_dec_to_double("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)} AS total_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    tier="B",
    doc="Exchange-free sort-merge join via bucketing — the at-rest layout "
    "for RECURRING fact-fact joins (functions/scale.py write_bucketed): "
    "orders and customer are persisted bucketed+sorted on the customer "
    "key with the same bucket count, so the join plans as a zero-"
    "Exchange sort-merge over co-located buckets, and the downstream "
    "per-customer aggregate reuses the same hash partitioning (output "
    "partitioning on the join key satisfies the groupBy's clustered "
    "distribution) — the whole query runs without a single shuffle "
    "(asserted in tests/test_analytics.py). The oracle is the plain "
    "join on the raw parquet: the layout must be semantically "
    "invisible. At 100 TB this amortizes: one bucketed write, every "
    "subsequent join/agg on the key shuffle-free.",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from news_categorization_big_data_spark.functions.scale import (
        read_bucketed,
        write_bucketed,
    )

    try:
        session_key = spark.sparkContext.applicationId
    except Exception:  # Spark Connect
        session_key = f"s{abs(hash(spark)) % 10**8}"
    suffix = _re.sub(
        r"[^a-z0-9]", "_", f"{session_key}_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}".lower()
    )
    orders_tbl, cust_tbl = f"b_orders_{suffix}", f"b_customer_{suffix}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("_price")
        ),
        orders_tbl,
        ["o_custkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        cust_tbl,
        ["c_custkey"],
    )
    # hint("merge"): at sf0.01 the planner would broadcast the tiny
    # customer side, hiding the layout's point; at 100 TB neither side
    # broadcasts and sort-merge over co-located buckets IS the plan.
    return (
        read_bucketed(spark, orders_tbl)
        .join(
            read_bucketed(spark, cust_tbl).hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("_price", 2).alias("total_spend"),
        )
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events WHERE ts IS NOT NULL
    ), t AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n_trans,
           CAST(CAST(n AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS DOUBLE)
             AS p_trans
    FROM t
    """,
    tier="B",
    doc="Event-transition matrix (first-order Markov estimate): for every "
    "ordered pair of event types, how often does one follow the other "
    "in a user's timeline, and with what conditional probability. One "
    "user-partitioned lag window (ts with unique event_id tiebreak — "
    "the q_window_lag idiom), one (prev, next) count shuffle, then the "
    "row-normalization window over the TRANSITION MATRIX (event-type² "
    "rows, trivially small at any corpus scale) — the heavy data "
    "touches one window + one aggregate, both on bounded-cardinality "
    "keys. p_trans divides two exact integers cast to double: "
    "bit-identical in both engines.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # a transition is a consecutive-IN-TIME pair: NULL event times have
    # no timeline position, excluded on both engines (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n_trans"))
    norm = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n_trans",
        (F.col("n_trans").cast("double") / F.sum("n_trans").over(norm).cast("double")).alias(
            "p_trans"
        ),
    )


# ---------------------------------------------------------------------------
# Round-4 grouped-statistics batch. Shared determinism machinery: every
# floating aggregate is either (a) an exact DECIMAL sum of values whose
# decimal expansion is finite and whose scaled magnitude stays below
# 2^53 (decimal→double conversion is then exact, so both engines see
# bit-identical doubles), or (b) a DECIMAL-quantized sum of per-row
# doubles that are themselves bit-identical on both engines (IEEE
# arithmetic on identical inputs) — quantization at scale s rounds the
# identical double to the same 10^-s grid on both engines (an exact
# half-way point would require the double to be a non-dyadic rational,
# which cannot exist), so the quantized sum is reduction-order-free AND
# engine-identical. Final scalar formulas then run the same expression
# tree on the same doubles. No rounding-for-luck anywhere.
# ---------------------------------------------------------------------------


@register(
    "q_grouped_regression",
    oracle=f"""
    WITH s AS (SELECT p_brand,
                      COUNT(*) AS n_parts,
                      CAST(SUM(CAST(p_size AS DECIMAL(30,0))) AS DOUBLE) AS sx,
                      {o_dec_to_double("SUM(CAST(p_retailprice AS DECIMAL(30,2)))", 2)} AS sy,
                      CAST(SUM(CAST(p_size * p_size AS DECIMAL(30,0))) AS DOUBLE) AS sxx,
                      {o_dec_to_double("SUM(CAST(p_size * p_retailprice AS DECIMAL(30,2)))", 2)} AS sxy,
                      {o_dec_to_double("SUM(CAST(p_retailprice * p_retailprice AS DECIMAL(30,4)))", 4)} AS syy
               FROM part GROUP BY p_brand)
    SELECT p_brand, n_parts,
           (n_parts * sxy - sx * sy)
             / NULLIF(sqrt(GREATEST((n_parts * sxx - sx * sx)
                                    * (n_parts * syy - sy * sy), 0e0)), 0e0)
             AS corr_size_price,
           (sxy - sx * sy / n_parts) / NULLIF(n_parts - 1, 0)
             AS covar_size_price,
           (n_parts * sxy - sx * sy) / NULLIF(n_parts * sxx - sx * sx, 0e0)
             AS slope,
           (sy - (n_parts * sxy - sx * sy)
                   / NULLIF(n_parts * sxx - sx * sx, 0e0) * sx)
             / n_parts AS intercept
    FROM s
    """,
    tier="B",
    doc="Grouped Pearson correlation, sample covariance, and OLS "
    "slope/intercept (retail price regressed on size, per brand) from "
    "the five moment sums — one partial-aggregating shuffle computes "
    "all of them; corr/covar/regr_* builtins would each re-scan. "
    "Determinism: x is integer, y has 2 decimals — x², x·y, y² have "
    "exact 0/2/4-decimal expansions, the DECIMAL sums are exact, and "
    "every scaled magnitude stays under 2^53 (y² ≤ 4·10⁶, "
    "~10³ parts/brand at sf1 → Σ ≤ 4·10⁹ → 4·10¹³ ten-thousandths), "
    "so the decimal→double conversions and the shared closed-form "
    "arithmetic are bit-identical on both engines — no output "
    "rounding needed. The builtin corr()/regr_slope() aggregates sum "
    "raw doubles in shuffle order and cannot hash-match across "
    "engines; this moment-sum form is how a warehouse makes grouped "
    "statistics reproducible. Degenerate groups (constant x, n=1) "
    "yield NULL statistics SYMMETRICALLY: Spark 4's ANSI default "
    "RAISES on double÷0 while DuckDB returns NULL, so every "
    "denominator is nullif-guarded on both sides (and the corr "
    "radicand is clamped ≥0 — DuckDB sqrt(negative) is a hard error, "
    "reachable via float rounding when x is near-constant).",
)
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    x = F.col("p_size").cast("double")
    y = F.col("p_retailprice")
    s = part.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum(x.cast("decimal(30,0)")).cast("double").alias("sx"),
        # Deliberately the DECIMAL buffer, not dsum: measured SLOWER
        # with limb at BOTH sf0.1 (0.81x) and sf1 (0.80x, interleaved
        # A/B, round 11 — SCALE.md). part is a small table with many
        # tiny p_brand groups, so the 3x-wider limb expression tree
        # costs more in codegen/plan width than the buffer ever costs
        # in accumulation; every scaled magnitude stays under 2^53
        # (docstring), so the plain conversion is already exact.
        dec_to_double(F.sum(y.cast("decimal(30,2)")), 2).alias("sy"),
        F.sum((x * x).cast("decimal(30,0)")).cast("double").alias("sxx"),
        dec_to_double(F.sum((x * y).cast("decimal(30,2)")), 2).alias("sxy"),
        dec_to_double(F.sum((y * y).cast("decimal(30,4)")), 4).alias("syy"),
    )
    n = F.col("n_parts")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    var_x = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / F.nullif(var_x, F.lit(0.0))
    return s.select(
        "p_brand",
        "n_parts",
        (
            (n * sxy - sx * sy)
            / F.nullif(
                F.sqrt(F.greatest(var_x * (n * syy - sy * sy), F.lit(0.0))),
                F.lit(0.0),
            )
        ).alias("corr_size_price"),
        ((sxy - sx * sy / n) / F.nullif(n - 1, F.lit(0))).alias(
            "covar_size_price"
        ),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


#: Engine-pinned log2 (functions/exact.py det_log2_sql): bit-identical
#: IEEE doubles on both engines at ANY count. Round 12 replaced the
#: 1024-row (n, log2 n) lookup dimension — its fail-fast bound was the
#: honest design at bounded per-entity counts, but /tmp/skew4's 30k-row
#: null group tripped it, and ANY 100-TB hot entity would; the closed
#: arithmetic form removes the bound entirely (same correctness
#: argument: every op correctly rounded, literals in {x!r}e0 form).


@register(
    "q_group_entropy",
    oracle=f"""
    -- user_id IS NOT NULL: behavioral entropy of the anonymous
    -- aggregate is meaningless (the q_funnel null policy).
    WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
               FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
    j AS (SELECT user_id, n, {det_log2_sql("n", "duckdb")} AS l2 FROM c),
    s AS (SELECT user_id,
                 CAST(SUM(n) AS BIGINT) AS n_events,
                 {o_dec_to_double("SUM(CAST(n * l2 AS DECIMAL(30,9)))", 9)}
                   AS s_nlogn
          FROM j GROUP BY 1)
    SELECT user_id, n_events,
           {det_log2_sql("n_events", "duckdb")} - s_nlogn / n_events
             AS entropy_bits
    FROM s
    """,
    tier="C",
    doc="Per-user Shannon entropy of the event-type distribution (in "
    "bits) — the behavioral-diversity feature a curation pipeline "
    "computes per source/domain to downweight single-note spam "
    "(entropy 0 = every event identical; log2(5) ≈ 2.32 = uniform "
    "over the 5 types). Algebraic form: H = log2(N) − Σ nᵢ·log2(nᵢ)/N "
    "over the (user, type) counts, null users excluded (the q_funnel "
    "policy — /tmp/skew4). Determinism: native log2 is NOT hash-stable "
    "across engines (measured on this platform: 7634 of 20000 integer "
    "inputs differ in the last ulp between Spark's JVM log and "
    "DuckDB's libm — transcendentals are not correctly rounded, "
    "unlike +,−,×,÷,√), so BOTH sides evaluate the engine-pinned "
    "closed form det_log2_sql (functions/exact.py): exact integer "
    "exponent via bin-length, exact mantissa via shift-division, and "
    "a 17-term atanh/Horner series whose every operation IS correctly "
    "rounded with {x!r}e0 literals — bit-identical doubles at ANY "
    "count (pinned over 1..200000 cross-engine in tests), ~1e-15 from "
    "true log2. Round 12 swap: the previous 1024-row (n, log2 n) "
    "lookup failed fast past its bound — the right behavior at "
    "bounded per-entity counts, but /tmp/skew4's 30k-row anonymous "
    "group tripped it and any 100-TB hot entity would; the closed "
    "form removes the bound and the two broadcast joins outright. "
    "nᵢ·log2(nᵢ) terms quantize to a 10⁻⁹ grid for the exact decimal "
    "sum — reduction-order-free, grid point identical on both engines "
    "(an exact half-way would require a non-dyadic double). One "
    "map-side-combined shuffle; the raw event table is touched once.",
)
def q_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.exact import det_log2_sql

    # Null policy + unbounded engine-pinned log2 — see the doc above.
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    j = c.withColumn("l2", F.expr(det_log2_sql("n", "spark")))
    s = j.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        dec_to_double(
            F.sum((F.col("n") * F.col("l2")).cast("decimal(30,9)")), 9
        ).alias("s_nlogn"),
    )
    return s.select(
        "user_id",
        "n_events",
        (
            F.expr(det_log2_sql("n_events", "spark"))
            - F.col("s_nlogn") / F.col("n_events")
        ).alias("entropy_bits"),
    )


@register(
    "q_hhi_concentration",
    oracle=f"""
    WITH r AS (SELECT o_orderpriority, o_custkey,
                      {o_dec_to_double("SUM(CAST(o_totalprice AS DECIMAL(30,2)))", 2)}
                        AS rev
               FROM orders GROUP BY 1, 2),
    t AS (SELECT o_orderpriority,
                 {o_dec_to_double("SUM(CAST(rev AS DECIMAL(30,2)))", 2)} AS total,
                 COUNT(*) AS n_cust
          FROM r GROUP BY 1)
    SELECT r.o_orderpriority,
           MAX(t.n_cust) AS n_cust,
           {o_dec_to_double(_O_HHI_SHARES, 12)} AS hhi
    FROM r JOIN t ON r.o_orderpriority = t.o_orderpriority
    GROUP BY r.o_orderpriority
    """,
    tier="B",
    doc="Herfindahl–Hirschman concentration index per order priority: "
    "Σ share² over customer revenue shares — the standard 'is this "
    "group dominated by few members' diagnostic (1/n_cust = perfectly "
    "even, 1.0 = single customer), used in curation to flag sources "
    "dominated by one crawler/domain. Plan: per-(priority, customer) "
    "decimal-exact revenue, per-priority totals broadcast back (the "
    "totals side is |priorities| rows — broadcast at any scale), "
    "shares squared and quantized to a 10⁻¹² grid for the exact "
    "decimal sum (share² ≤ 1, ≤10⁴ members/group at sf1 → scaled "
    "magnitude ≤ 10¹⁶·10⁻⁴ ≪ 2^53): reduction-order-free and "
    "engine-identical by the module-header argument.",
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    r = orders.groupBy("o_orderpriority", "o_custkey").agg(
        dec_to_double(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")), 2
    ).alias("rev")
    )
    t = r.groupBy("o_orderpriority").agg(
        dsum(F.col("rev").cast("decimal(30,2)"), 2).alias("total"),
        F.count("*").alias("n_cust"),
    )
    share = F.col("rev") / F.col("total")
    return (
        r.join(F.broadcast(t), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n_cust").alias("n_cust"),
            dsum((share * share).cast("decimal(30,12)"), 12).alias(
                "hhi"
            ),
        )
    )


@register(
    "q_grouped_moments",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      COUNT(*) AS n,
                      -- poison -> NULL moments (o_fin/o_poisoned; /tmp/skew7)
                      CASE WHEN NOT {o_poisoned('value')} THEN
                      {o_dec_to_double(f"SUM(CAST({o_fin('value')} AS DECIMAL(18,2)))", 2)}
                      END AS s1,
                      CASE WHEN NOT {o_poisoned('value')} THEN
                      {o_dec_to_double(f'''SUM(CAST({o_fin('value')} AS DECIMAL(18,2))
                               * CAST({o_fin('value')} AS DECIMAL(18,2)))''', 4)}
                      END AS s2
               FROM events GROUP BY 1),
    st AS (SELECT event_type, n, s1 / n AS mean,
                  sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0)) AS std
           FROM s),
    z AS (SELECT e.event_type, st.n, st.mean, st.std,
                 (e.value - st.mean) / NULLIF(st.std, 0e0) AS t
          FROM events e JOIN st ON e.event_type = st.event_type)
    SELECT event_type,
           MAX(n) AS n, MAX(mean) AS mean, MAX(std) AS std,
           {o_dec_to_double("SUM(CAST(t * t * t AS DECIMAL(30,9)))", 9)} / MAX(n)
             AS skewness,
           {o_dec_to_double("SUM(CAST(t * t * t * t AS DECIMAL(30,9)))", 9)} / MAX(n)
             - 3.0 AS excess_kurtosis
    FROM z GROUP BY event_type
    """,
    tier="B",
    doc="Grouped skewness and excess kurtosis — the shape diagnostics "
    "behind drift monitoring on a feature column. Raw third/fourth "
    "power sums of a 3-digit value would scale past 2^53 and make the "
    "decimal→double conversion lossy, so the engine uses the two-pass "
    "standardized form (same shape as q_zscore_outliers): exact-decimal "
    "first pass → mean/std as bit-identical doubles, broadcast back; "
    "second pass sums ((x−μ)/σ)³ and ⁴ — identical doubles on both "
    "engines, quantized to a 10⁻⁹ grid for the reduction-order-free "
    "sum. The grid sum does NOT stay under 2^53 adversarially: a "
    "max-skew in-domain group (n−1 zeros + one outlier) has "
    "Σt⁴ = (n−1)², crossing 2^53 at n ≈ 3002 — and a direct "
    "decimal→double cast measurably hash-flips at n ≈ 2·10⁴ "
    "(tests/test_overflow_bounds.py) — so every decimal sum here "
    "converts via dec_to_double (functions/exact.py), which is "
    "engine-identical to |scaled| < 2^113. Two shuffles on the 5-value type "
    "key; stats side broadcast. A constant-valued group (std = 0) "
    "yields NULL shape stats SYMMETRICALLY via the nullif guard — "
    "without it Spark's ANSI double÷0 raises while DuckDB nulls.",
)
def q_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dval = F.col("value").cast("decimal(18,2)")
    # poison -> NULL moments: a poisoned type yields NULL mean/std and
    # zero outliers on both engines (NULL comparisons count nothing)
    ok = ~poisoned_flag("value")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.when(ok, dsum(dval, 2)).alias("s1"),
        F.when(ok, dsum(dval * dval, 4)).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    st = s.select(
        "event_type",
        "n",
        mean.alias("mean"),
        F.sqrt(
            F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
        ).alias("std"),
    )
    t = (F.col("value") - F.col("mean")) / F.nullif(F.col("std"), F.lit(0.0))
    return (
        ev.join(F.broadcast(st), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("mean").alias("mean"),
            F.max("std").alias("std"),
            (
                dec_to_double(F.sum((t * t * t).cast("decimal(30,9)")), 9)
                / F.max("n")
            ).alias("skewness"),
            (
                dec_to_double(F.sum((t * t * t * t).cast("decimal(30,9)")), 9)
                / F.max("n")
                - F.lit(3.0)
            ).alias("excess_kurtosis"),
        )
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH st AS (SELECT event_type,
                       list_sort(list(value))[(COUNT(*) - 1) // 2 + 1] AS med
                FROM events GROUP BY 1),
    d AS (SELECT e.event_type, e.value, st.med,
                 abs(e.value - st.med) AS dev
          FROM events e JOIN st USING (event_type)),
    m AS (SELECT event_type, MAX(med) AS med,
                 list_sort(list(dev))[(COUNT(*) - 1) // 2 + 1] AS mad
          FROM d GROUP BY 1)
    SELECT d.event_type, MAX(m.med) AS med, MAX(m.mad) AS mad,
           CAST(count_if(d.dev > 3.0 * m.mad) AS BIGINT) AS n_outliers,
           COUNT(*) AS n
    FROM d JOIN m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
    tier="B",
    doc="Robust outlier detection via median absolute deviation — the "
    "resistant alternative to q_zscore_outliers (one wild value drags "
    "a mean/std arbitrarily; the median/MAD pair has a 50% breakdown "
    "point). Both medians are EXACT LOWER order statistics (the "
    "element at index (n−1)//2 of the sorted group), not interpolated "
    "percentiles: an order statistic is an actual data value, so both "
    "engines agree bit-for-bit and the |x−med| / 3·MAD boundary "
    "comparisons are decided on identical doubles — no rounding, no "
    "interpolation-ulp hazard (the reason q_group_quantiles needs "
    "round(4)). Plan (round-8 rewrite): events are scanned ONCE into "
    "the per-group distinct-value counts table "
    "(functions/ordered.py:value_counts, MEMORY_AND_DISK-persisted — the "
    "round-7 form re-evaluated the fact subtree per consumer, 8 scans) "
    "and EVERY later phase is value-domain arithmetic: the median from "
    "the cumulative-count window, the deviation table by re-counting "
    "|v − med| over distinct values (two values can fold to one "
    "deviation, so counts re-aggregate), the MAD from the same window "
    "over deviations, and the outlier count as sum(_vc where dev > "
    "3·MAD). No group's values are ever buffered in one collect_list "
    "cell; per-task state is a spillable window bounded by the value "
    "domain. EXACT at any scale — the approx_percentile fallback the "
    "round-5 doc suggested is no longer needed.",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.ordered import (
        order_stats_from_counts,
        value_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    # ONE fact pass; the counts table is value-domain-sized by
    # definition, so the MEMORY_AND_DISK persist pins a small table and
    # every phase below reads the cache instead of re-scanning facts.
    # persist over localCheckpoint is a MEASURED call (SCALE.md round
    # 8, INTERLEAVED A/B — a first cross-window comparison pointed the
    # other way and was ambient noise): equal-or-faster at sf0.1 AND
    # lineage is kept, so an executor loss recomputes the block
    # instead of failing the job — the only safe default at 1000
    # executors with node churn
    counts = pin(value_counts(ev, ["event_type"], F.col("value")))
    k_med = ((F.col("_n_tot") - 1) / 2 + 1).cast("int")
    st = order_stats_from_counts(counts, ["event_type"], {"med": k_med})
    # deviation distinct-value table: |v − med| folds v = med±x onto one
    # deviation, so re-aggregate counts; the NULL carrier row (dev NULL)
    # keeps the total-row-count semantics of the rank expressions
    dev_counts = (
        counts.join(F.broadcast(st), "event_type")
        .groupBy(
            "event_type",
            F.abs(F.col("_v") - F.col("med")).alias("_v"),
            "med",
        )
        .agg(F.sum("_vc").alias("_vc"))
    )
    m = order_stats_from_counts(dev_counts, ["event_type"], {"mad": k_med})
    return (
        dev_counts.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_v") > F.lit(3.0) * F.col("mad"), F.col("_vc")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers"),
            F.sum("_vc").alias("n"),
        )
    )


#: Winsorization clip quantiles as integer per-mille ranks (exact).
WINSOR_LO_PM = 50
WINSOR_HI_PM = 950


@register(
    "q_winsorize",
    oracle=f"""
    WITH s AS (SELECT event_type, list_sort(list(value)) AS vs, COUNT(*) AS n,
                      {o_poisoned('value')} AS poisoned
               FROM events GROUP BY 1),
    b AS (SELECT event_type, n, poisoned,
                 vs[CAST((n - 1) * {WINSOR_LO_PM} // 1000 AS INT) + 1] AS lo,
                 vs[CAST((n - 1) * {WINSOR_HI_PM} // 1000 AS INT) + 1] AS hi
          FROM s)
    -- poison -> NULL (dsum_fin contract): a non-finite value makes the
    -- group's clip bounds and means NULL on both engines (its order-
    -- statistic rank is engine-dependent and its decimal cast is
    -- refused by DuckDB); n still counts every row (/tmp/skew7)
    SELECT e.event_type,
           MAX(CASE WHEN NOT b.poisoned THEN b.lo END) AS lo,
           MAX(CASE WHEN NOT b.poisoned THEN b.hi END) AS hi,
           COUNT(*) AS n,
           CASE WHEN NOT MAX(b.poisoned) THEN
           {o_dec_to_double(f"SUM(CAST({o_fin('e.value')} AS DECIMAL(18,2)))", 2)} / COUNT(*)
           END AS mean_raw,
           CASE WHEN NOT MAX(b.poisoned) THEN
           {o_dec_to_double(_O_WINSOR_CLIP, 2)} / COUNT(*)
           END AS mean_winsorized
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
    tier="B",
    doc=f"Winsorized mean per group: values clipped into the "
    f"[p{WINSOR_LO_PM/10:.0f}, p{WINSOR_HI_PM/10:.0f}] band before "
    "averaging — the tail-robust aggregate a feature pipeline uses "
    "where a trimmed mean would discard rows. Clip bounds are exact "
    "order statistics at integer per-mille ranks ((n−1)·k div 1000 — "
    "pure integer arithmetic, no interpolation), so both engines clip "
    "with identical bounds; clipped values are actual data values with "
    "2-decimal expansions, so the winsorized decimal sum is exact and "
    "reduction-order-free like every dsum. Plan (round-8 rewrite): ONE "
    "fact scan into the distinct-value counts table "
    "(functions/ordered.py:value_counts, MEMORY_AND_DISK-persisted); the "
    "per-mille bounds ride its cumulative window, and BOTH means are "
    "value-domain decimal sums — dec(v)·count and dec(clip(v))·count "
    "are exact decimal products, so the totals equal the per-row sums "
    "bit-for-bit. Raw and winsorized means emitted side-by-side for "
    "the shift diagnostic.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.ordered import (
        order_stats_from_counts,
        value_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    counts = pin(value_counts(ev, ["event_type"], F.col("value")))
    n = F.col("_n_tot")
    b = order_stats_from_counts(
        counts,
        ["event_type"],
        {
            "lo": (((n - 1) * WINSOR_LO_PM) / 1000).cast("int") + 1,
            "hi": (((n - 1) * WINSOR_HI_PM) / 1000).cast("int") + 1,
        },
    )
    clipped = F.least(F.greatest(F.col("_v"), F.col("lo")), F.col("hi"))
    # poison -> NULL: bounds and means NULL for a poisoned group; the
    # flag rides the same aggregate over the counts table (/tmp/skew7)
    ok = ~poisoned_flag("_v")
    return (
        counts.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.when(ok, F.max("lo")).alias("lo"),
            F.when(ok, F.max("hi")).alias("hi"),
            F.sum("_vc").alias("n"),
            F.when(
                ok,
                dec_to_double(
                    F.sum(F.col("_v").cast("decimal(18,2)") * F.col("_vc")), 2
                )
                / F.sum("_vc"),
            ).alias("mean_raw"),
            F.when(
                ok,
                dec_to_double(
                    F.sum(clipped.cast("decimal(18,2)") * F.col("_vc")), 2
                )
                / F.sum("_vc"),
            ).alias("mean_winsorized"),
        )
    )


@register(
    "q_growth_accounting",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events WHERE ts IS NOT NULL),
    lab AS (SELECT user_id, day,
                   MIN(day) OVER (PARTITION BY user_id) AS first_day,
                   LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                     AS prev_day
            FROM act),
    today AS (SELECT day,
                     CAST(count_if(day = first_day) AS BIGINT) AS new_users,
                     CAST(count_if(day <> first_day
                                   AND prev_day = day - 1) AS BIGINT)
                       AS retained,
                     CAST(count_if(day <> first_day
                                   AND prev_day < day - 1) AS BIGINT)
                       AS resurrected
              FROM lab GROUP BY day),
    churn AS (SELECT day + 1 AS day,
                     CAST(COUNT(*) AS BIGINT) AS active_prev
              FROM act GROUP BY 1)
    SELECT strftime(t.day, '%Y-%m-%d') AS day,
           t.new_users, t.retained, t.resurrected,
           CAST(COALESCE(c.active_prev, 0) - t.retained AS BIGINT)
             AS churned
    FROM today t LEFT JOIN churn c ON t.day = c.day
    """,
    tier="B",
    doc="Growth accounting (the DAU ledger): every active (user, day) "
    "labeled NEW (first activity), RETAINED (also active the previous "
    "day) or RESURRECTED (returning after a gap); CHURNED = yesterday's "
    "actives that did not retain (yesterday_active − retained — an "
    "identity over exact integer counts, so no second self-join is "
    "needed). SINGLE-SCAN plan (round 8, the q_funnel discipline): the "
    "old shape consumed the distinct-activity table twice (labels + "
    "yesterday's-active count), and Spark does not common identical "
    "subplans — 2 scans and 2 distinct shuffles. Now each labeled "
    "(user, day) row EXPLODES into its two ledger contributions — "
    "(day: new/retained/resurrected flags) and (day+1: one "
    "active_prev) — and ONE day-grain aggregate sums both, the "
    "join gone. Days with no activity of their own (only day+1 "
    "spillover) are filtered exactly as the old left join dropped "
    "them: a day is in the ledger iff new+retained+resurrected > 0 "
    "(every active user that day is exactly one of the three). One "
    "scan, one distinct shuffle, one user-partitioned window "
    "(first_day + prev_day in the same pass), one day aggregate. "
    "Day math is integer date arithmetic; day renders as an ISO "
    "string (DATE output columns are driver-canon-hostile).",
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # NULL-timestamp rows are excluded EXPLICITLY in both engines (the
    # WHERE ts IS NOT NULL in the oracle): a NULL activity day would
    # otherwise hit three engine-divergent corners at once — Spark
    # lags order NULLS FIRST vs DuckDB's NULLS LAST, a NULL ledger day
    # joins nothing in the oracle's churn LEFT JOIN, and the
    # activity-day filter would drop the oracle's (NULL, 0, 0, 0, 0)
    # row. The ledger is defined over dated activity, full stop.
    act = (
        ev.where(F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w_all = Window.partitionBy("user_id")
    w_ord = Window.partitionBy("user_id").orderBy("day")
    lab = act.select(
        "day",
        F.min("day").over(w_all).alias("first_day"),
        F.lag("day").over(w_ord).alias("prev_day"),
    )
    is_new = F.col("day") == F.col("first_day")
    contrib = F.array(
        F.struct(
            F.col("day").alias("d"),
            is_new.cast("long").alias("new_users"),
            (~is_new & (F.col("prev_day") == F.date_sub("day", 1)))
            .cast("long")
            .alias("retained"),
            (~is_new & (F.col("prev_day") < F.date_sub("day", 1)))
            .cast("long")
            .alias("resurrected"),
            F.lit(0).cast("long").alias("active_prev"),
        ),
        F.struct(
            F.date_add("day", 1).alias("d"),
            F.lit(0).cast("long").alias("new_users"),
            F.lit(0).cast("long").alias("retained"),
            F.lit(0).cast("long").alias("resurrected"),
            F.lit(1).cast("long").alias("active_prev"),
        ),
    )
    ledger = (
        lab.select(F.explode(contrib).alias("_c"))
        .select("_c.*")
        .groupBy("d")
        .agg(
            F.sum("new_users").alias("new_users"),
            F.sum("retained").alias("retained"),
            F.sum("resurrected").alias("resurrected"),
            F.sum("active_prev").alias("active_prev"),
        )
        .where(
            F.col("new_users") + F.col("retained") + F.col("resurrected") > 0
        )
    )
    return ledger.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        "retained",
        "resurrected",
        (F.col("active_prev") - F.col("retained")).cast("long").alias("churned"),
    )


# --------------------------------------------------------------------------
# Peak session concurrency
# --------------------------------------------------------------------------


@register(
    "q_peak_concurrency",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, ts,
                      CASE WHEN LAG(ts) OVER w IS NULL
                           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                           THEN 1 ELSE 0 END AS new_sess
               FROM events
               WHERE ts IS NOT NULL
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM e),
    iv AS (SELECT MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
           FROM s GROUP BY user_id, sid),
    b AS (SELECT us, delta, CAST(SUM(cnt) AS BIGINT) AS n FROM (
            SELECT s_us AS us, 1 AS delta, COUNT(*) AS cnt FROM iv GROUP BY 1
            UNION ALL
            SELECT e_us, -1, COUNT(*) FROM iv GROUP BY 1)
          GROUP BY us, delta),
    run AS (SELECT us, delta,
                   CAST(SUM(delta * n) OVER (ORDER BY us, delta DESC)
                        AS BIGINT) AS conc
            FROM b)
    SELECT CAST(MAX(conc) AS BIGINT) AS peak,
           CAST(COUNT(CASE WHEN conc = (SELECT MAX(conc) FROM run WHERE delta = 1)
                           THEN 1 END) AS BIGINT) AS n_at_peak,
           CAST(MIN(CASE WHEN conc = (SELECT MAX(conc) FROM run WHERE delta = 1)
                         THEN us END) AS BIGINT) AS first_peak_us
    FROM run WHERE delta = 1
    """,
    tier="B",
    doc="Peak concurrent sessions — the capacity-planning number ('how "
    "many users were active AT ONCE at the worst moment?'): sessions "
    "from the q_sessionize gap rule become [start,end] intervals, "
    "intervals become +1/-1 boundary deltas, and the peak is the max "
    "of the running delta sum — the classic O(n log n) sweep, never "
    "an interval self-join. Scale shape: boundaries AGGREGATE to "
    "distinct (timestamp, delta) rows first (the q_ml_auc "
    "distinct-value trick), so the one ordered window runs over "
    "distinct boundary instants, not sessions; with the RANGE "
    "default frame, peer rows aggregate together, making the "
    "running sum well-defined under ties. Sessions touching at the "
    "same instant count as concurrent (+1 sorts before -1). "
    "All-integer µs arithmetic — oracle-exact; ties at the peak "
    "resolve by earliest instant.",
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # sessions are time intervals: NULL event times are unassignable,
    # dropped on both engines (same policy as sessionize_ids; skew10)
    ev = ev.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    new_sess = F.when(prev.isNull() | (us - prev > SESSION_GAP_US), 1).otherwise(0)
    sid = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    iv = (
        ev.select("user_id", "ts", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
    )
    starts = (
        iv.groupBy(F.col("s_us").alias("us"))
        .agg(F.count("*").alias("n"))
        .select("us", F.lit(1).alias("delta"), "n")
    )
    ends = (
        iv.groupBy(F.col("e_us").alias("us"))
        .agg(F.count("*").alias("n"))
        .select("us", F.lit(-1).alias("delta"), "n")
    )
    b = starts.unionAll(ends).groupBy("us", "delta").agg(F.sum("n").alias("n"))
    # (us, delta) is unique after the groupBy — a total order over the
    # pre-aggregated boundary table, so a ROWS frame equals RANGE and
    # the running sum and full-frame max each run one task over it
    run = b.withColumn(
        "_rs",
        F.sum(F.col("delta") * F.col("n")).over(
            Window.orderBy("us", F.col("delta").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    run = run.select(
        "us", "delta", F.col("_rs").cast("long").alias("conc")
    ).where(F.col("delta") == 1)
    peaked = run.withColumn("mx", F.max("conc").over(Window.partitionBy()))
    return peaked.agg(
        F.max("conc").alias("peak"),
        F.count(F.when(F.col("conc") == F.col("mx"), 1)).alias("n_at_peak"),
        F.min(F.when(F.col("conc") == F.col("mx"), F.col("us"))).alias(
            "first_peak_us"
        ),
    )


# --------------------------------------------------------------------------
# Gini coefficient
# --------------------------------------------------------------------------


@register(
    "q_gini_spend",
    oracle="""
    WITH s AS (SELECT o_custkey,
                      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS cents
               FROM orders GROUP BY o_custkey),
    v AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY cents),
    cumv AS (SELECT cents, c,
                    SUM(c) OVER (ORDER BY cents) - c AS p,
                    SUM(c) OVER () AS n
             FROM v),
    agg AS (SELECT MAX(n) AS n,
                   SUM(CAST(cents AS DECIMAL(38,0)) * c) AS t,
                   SUM(CAST(cents AS DECIMAL(38,0))
                       * (c * p + (c * (c + 1)) // 2)) AS rs
            FROM cumv)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(t AS DOUBLE) / 100.0 AS total_spend,
           CAST(2 * rs - (n + 1) * t AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)) AS gini
    FROM agg
    """,
    tier="C",
    doc="Gini coefficient of per-customer lifetime spend — the "
    "inequality measure a data platform reports for ANY long-tailed "
    "distribution (customer revenue, per-domain document counts, "
    "per-token frequencies: 'how concentrated is this corpus?'). "
    "EXACT, not trapezoid-approximated: spend canonicalizes to "
    "integer cents, and the rank sum Σ rank·x over the sorted "
    "population computes from the DISTINCT-VALUE table (the "
    "q_lift_bands trick) — a value with count c after p predecessors "
    "contributes c·p + c(c+1)/2 rank units, so ties are handled "
    "exactly and the one ordered window runs over distinct spend "
    "values, not customers. Per-group products go through "
    "DECIMAL(38,0) (cents × rank-units overflows int64 at corpus "
    "scale); everything stays integer-exact until the single final "
    "division. G = (2·Σrank·x − (n+1)·Σx) / (n·Σx), the standard "
    "mean-difference form.",
)
def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    v = s.groupBy("cents").agg(F.count("*").alias("c"))
    # cents is unique after the groupBy, so the one-task windows run
    # over the pre-aggregated value-domain table
    cumv = v.withColumn(
        "_cum",
        F.sum("c").over(
            Window.orderBy("cents").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    cumv = cumv.withColumn("n", F.sum("c").over(Window.partitionBy())).select(
        "cents",
        "c",
        (F.col("_cum") - F.col("c")).alias("p"),
        "n",
    )
    rank_units = F.col("c") * F.col("p") + F.expr("(c * (c + 1)) div 2")
    agg = cumv.agg(
        F.max("n").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("c")).alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)") * rank_units).alias("rs"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.col("t").cast("double") / F.lit(100.0)).alias("total_spend"),
        (
            (F.lit(2) * F.col("rs") - (F.col("n") + 1) * F.col("t")).cast("double")
            / (F.col("n").cast("double") * F.col("t").cast("double"))
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Ordered co-occurrence support
# --------------------------------------------------------------------------


@register(
    "q_seq_cooccur",
    oracle="""
    WITH spans AS (SELECT user_id, event_type,
                          MIN(epoch_us(ts)) AS first_us,
                          MAX(epoch_us(ts)) AS last_us
                   FROM events GROUP BY user_id, event_type),
    nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events),
    pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                     CAST(COUNT(*) AS BIGINT) AS n_support
              FROM spans a JOIN spans b
                ON a.user_id = b.user_id
               AND a.event_type <> b.event_type
               AND a.first_us < b.last_us
              GROUP BY 1, 2)
    SELECT type_a, type_b, n_support,
           CAST(n_support AS DOUBLE) / CAST(nu.n_users AS DOUBLE) AS support
    FROM pairs, nu
    """,
    tier="B",
    doc="Ordered co-occurrence support ('users who do A then later B') "
    "for every ordered event-type pair — the sequence-mining support "
    "table behind 'what follows what' product questions, and the "
    "NON-CONTIGUOUS complement of q_event_trigrams (which counts "
    "adjacent paths only): here any gap qualifies, via the interval "
    "test first(A) < last(B) per user, which is exact for existence "
    "(some A-event precedes some B-event iff the earliest A precedes "
    "the latest B). Plan: one shuffle to per-(user, type) spans (at "
    "most |types| rows per user), then a user-local self-join whose "
    "fan-out is bounded by |types|² per user — never a join over raw "
    "events; the final regroup carries |types|² rows. All-integer "
    "µs comparisons; one exact division for the support share.",
)
def q_seq_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    nu = ev.agg(F.countDistinct("user_id").alias("n_users"))
    a = spans.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("first_us").alias("a_first"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("last_us").alias("b_last"),
    )
    pairs = (
        a.join(b, "user_id")
        .where(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("a_first") < F.col("b_last"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_support"))
    )
    return pairs.crossJoin(F.broadcast(nu)).select(
        "type_a",
        "type_b",
        "n_support",
        (
            F.col("n_support").cast("double") / F.col("n_users").cast("double")
        ).alias("support"),
    )
