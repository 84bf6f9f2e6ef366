"""Reshaping queries over `events`: pivot (long→wide), unpivot
(wide→long), and time-series gap filling — the reporting-layer surface a
warehouse user reaches for after the aggregations in plans/relational.py.

Scale notes: pivot with an EXPLICIT value list compiles to one hash
aggregate with `len(values)` conditional counters — one shuffle, no
second pass (omitting the list makes Spark run an extra distinct job to
discover it, and an unbounded value domain would explode the row width —
always pin the list). Unpivot is a map-only `expand` (each input row
emits `len(values)` rows, no shuffle). Gap filling joins the observed
bins to a GENERATED time spine — `sequence()` is evaluated per
event_type group, the spine is dimension-sized (bins × types, never
corpus-sized), and the carry-forward is one window per type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.plans.relational import dsum_fin, o_dsum_fin
from news_categorization_big_data_spark.sources.tables import load_table

#: The events table's closed event-type domain — pinned so the pivot is
#: single-pass and both engines emit identical column sets.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _pivot_oracle() -> str:
    cols = ",\n           ".join(
        f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0) AS BIGINT) AS {t}"
        for t in EVENT_TYPES
    )
    return f"""
    SELECT user_id,
           {cols}
    FROM events GROUP BY user_id
    """


@register(
    "q_pivot_wide",
    oracle=_pivot_oracle(),
    tier="B",
    doc="Pivot long→wide: per-user event counts, one column per event "
    "type. The value list is EXPLICIT (EVENT_TYPES) so Spark skips the "
    "value-discovery job and plans a single hash aggregate with one "
    "conditional counter per type — one shuffle, same shape as the "
    "oracle's CASE aggregation.",
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )
    return wide.select("user_id", *[F.col(t).cast("long").alias(t) for t in EVENT_TYPES])


def _unpivot_oracle() -> str:
    spine = " UNION ALL ".join(f"SELECT '{t}' AS event_type" for t in EVENT_TYPES)
    return f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t AS ({spine}),
    c AS (SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY user_id, event_type)
    SELECT u.user_id, t.event_type, COALESCE(c.n, 0) AS n
    FROM u CROSS JOIN t
    -- IS NOT DISTINCT FROM: the NULL user_id is a real pivot GROUP in
    -- Spark (groupBy keeps the null key with its counts), so the
    -- join-back must match it — a plain equality never matches NULL
    -- and zeroed the whole null-user row (the skew4 full-sweep find)
    LEFT JOIN c ON c.user_id IS NOT DISTINCT FROM u.user_id
               AND c.event_type = t.event_type
    """


@register(
    "q_unpivot_long",
    oracle=_unpivot_oracle(),
    tier="B",
    doc="Unpivot wide→long (`df.unpivot`, the melt): the pivoted per-user "
    "counts restored to (user_id, event_type, n) rows — including the "
    "explicit zeros the wide form materialized. Unpivot itself is a "
    "map-only expand (each row emits one output row per value column, "
    "no shuffle on top of the pivot's aggregate).",
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_pivot_wide(spark, sf_dir)
    return wide.unpivot(
        ids=["user_id"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="n",
    )


#: Gap-fill bin width (seconds) — 1-hour bins: sparse enough on the
#: testdata event rate that real gaps exist, so the spine + LOCF path is
#: exercised by data, not just by plan shape.
GAP_BIN_SECONDS = 3600

#: Bins per generated sequence() array in the gap-fill spine. Bounds
#: the per-row explode memory to a CONSTANT regardless of the corpus
#: time span (min..max is data-controlled: one corrupt 1955 or 2250
#: timestamp multiplies the span ~300x — skew10's OOM finding).
GAP_SPINE_CHUNK_BINS = 1024

#: Hard cap on spine length: at most this many MOST-RECENT bins per
#: type. Gap fill's output is span/bin — data-controlled and unbounded
#: (skew10: one 1955 + one 2250 record -> a 13M-row "report"). Real
#: hypertable gapfill (TimescaleDB time_bucket_gapfill) refuses
#: unbounded ranges for the same reason and demands finite bounds;
#: this constant is that bound. 25k hourly bins ~ 2.85 years — an
#: order of magnitude beyond every fixture's true span, so the clamp
#: is invisible unless the span is corrupt.
GAP_SPINE_MAX_BINS = 25_000


@register(
    "q_gap_fill",
    oracle=f"""
    WITH b AS (SELECT event_type,
                      CAST(to_timestamp(floor(epoch(ts) / {GAP_BIN_SECONDS}) * {GAP_BIN_SECONDS})
                           AS TIMESTAMP) AS bin,
                      COUNT(*) AS n_events,
                      -- poison -> NULL bin sum; the LOCF carry then
                      -- fills a poisoned bin from its predecessor,
                      -- identically on both engines (/tmp/skew7)
                      {o_dsum_fin('value')} AS sum_value
               FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type,
                      -- most-recent-N-bins clamp, same guard as the plan
                      GREATEST(MIN(bin),
                               MAX(bin) - INTERVAL {(GAP_SPINE_MAX_BINS - 1) * GAP_BIN_SECONDS} SECONDS) AS lo,
                      MAX(bin) AS hi
               FROM b GROUP BY 1),
    spine AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL {GAP_BIN_SECONDS} SECONDS)) AS bin
              FROM bounds),
    joined AS (SELECT s.event_type, s.bin,
                      COALESCE(b.n_events, 0) AS n_events,
                      b.sum_value,
                      (b.event_type IS NULL) AS was_gap
               FROM spine s LEFT JOIN b USING (event_type, bin))
    SELECT event_type, bin, n_events, was_gap,
           round(COALESCE(sum_value,
                 last_value(sum_value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 4)
             AS sum_value_ff
    FROM joined
    """,
    tier="C",
    doc="Time-series gap filling (the hypertable `time_bucket_gapfill` "
    "analog): 1-hour bins per event type, a generated dense time spine, "
    "empty bins restored with n_events = 0 and the decimal-exact bin "
    "sum carried forward (`last(ignorenulls)` window = LOCF "
    "interpolation). The spine is length-capped (GAP_SPINE_MAX_BINS "
    "most-recent bins per type — real gapfill APIs demand finite "
    "bounds; an uncapped min..max span is one corrupt timestamp away "
    "from a 13M-row report, the skew10 finding) and generated in "
    "GAP_SPINE_CHUNK_BINS-element chunks so per-row array memory is "
    "constant in the span. One agg shuffle + one spine-sized window.",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_col = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / GAP_BIN_SECONDS).cast("long") * GAP_BIN_SECONDS
    )
    binned = ev.groupBy(
        "event_type", bin_col.alias("bin")
    ).agg(F.count("*").alias("n_events"), dsum_fin("value").alias("sum_value"))
    # Chunked spine: ONE sequence() per (type, min..max) span OOMs the
    # moment a single corrupt far-past/future timestamp blows the span
    # up (skew10: a 1955 + a 2250 record -> a 2.59M-element array per
    # type -> driver heap death). Generate chunk indices first (outer
    # explode, span/chunk rows), then at most GAP_SPINE_CHUNK_BINS bins
    # inside each chunk -- per-row array memory is CONSTANT in the span.
    chunk_w = GAP_BIN_SECONDS * GAP_SPINE_CHUNK_BINS
    bounds = binned.groupBy("event_type").agg(
        F.min("bin").alias("_lo"), F.max("bin").alias("_hi")
    )
    hi_s = F.unix_timestamp("_hi")
    # Most-recent-N-bins clamp (see GAP_SPINE_MAX_BINS).
    lo_s = F.greatest(
        F.unix_timestamp("_lo"),
        hi_s - (GAP_SPINE_MAX_BINS - 1) * GAP_BIN_SECONDS,
    )
    chunks = bounds.select(
        "event_type",
        lo_s.alias("_lo_s"),
        hi_s.alias("_hi_s"),
        F.explode(
            # floor (not truncate-to-zero) division: pre-1970 bins are
            # negative epochs; double-div floor is exact below 2^52 s
            F.sequence(
                F.floor(lo_s / chunk_w).cast("long"),
                F.floor(hi_s / chunk_w).cast("long"),
            )
        ).alias("_c"),
    )
    spine = chunks.select(
        "event_type",
        F.explode(
            F.sequence(
                F.greatest(F.col("_c") * chunk_w, F.col("_lo_s")),
                F.least(
                    (F.col("_c") + 1) * chunk_w - GAP_BIN_SECONDS, F.col("_hi_s")
                ),
                F.lit(GAP_BIN_SECONDS).cast("long"),
            )
        ).alias("_s"),
    ).select("event_type", F.timestamp_seconds("_s").alias("bin"))
    joined = spine.join(binned, ["event_type", "bin"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "bin",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("was_gap"),
        F.round(
            F.coalesce(
                "sum_value", F.last("sum_value", ignorenulls=True).over(w), F.lit(0.0)
            ),
            4,
        ).alias("sum_value_ff"),
    )



# --------------------------------------------------------------------------
# Schema-evolution union (unionByName with missing columns)
# --------------------------------------------------------------------------


@register(
    "q_union_by_name",
    oracle="""
    SELECT o_orderkey AS okey, o_totalprice AS price,
           CAST(NULL AS VARCHAR) AS priority, 'v1' AS era
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL BY NAME
    SELECT o_orderkey AS okey, o_orderpriority AS priority,
           o_totalprice AS price, 'v2' AS era
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tier="B",
    doc="Union of two table ERAS with different column sets and "
    "orders — the schema-evolution append every long-lived lakehouse "
    "table needs: v1 rows lack the later-added `priority` column and "
    "must surface it as NULL, v2 rows list their columns in a "
    "different physical order, and the union must match BY NAME, not "
    "by position (a positional union would silently write prices "
    "into the priority column). Spark: unionByName(allowMissing"
    "Columns=True); DuckDB: UNION ALL BY NAME. Scale: map-only — "
    "two scans, a constant-NULL projection, zero shuffles.",
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
        F.lit("v1").alias("era"),
    )
    v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
        F.lit("v2").alias("era"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)
