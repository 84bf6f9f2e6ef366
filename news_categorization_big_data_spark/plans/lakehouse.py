"""Lakehouse / table-maintenance tier (round 5): the operations a
Spark-backed table format (Delta/Iceberg-shaped) layers over raw
relational work — recursive hierarchy traversal, Bloom-filtered joins
(Spark's own runtime row-level filtering, made explicit), CDC log
application, zone-map data skipping, interval-union coverage, and
calendar-dimension generation.

Generalizes the reference's storage surface (database_storage.py:16-32
is a Mongo DAO with insert / full scan / range scan) to the maintenance
queries a lakehouse actually runs around those scans. House determinism
rules (plans/analytics.py): integer/exact-decimal arithmetic wherever
reduction order could matter, timestamps rendered as strings, division
chains associated identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
)
from news_categorization_big_data_spark.plans.relational import dsum
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Recursive CTE hierarchy
# ---------------------------------------------------------------------------

#: Synthetic part hierarchy: parent(k) = k DIV 10, roots are keys < 10.
#: Both engines derive the DAG from the key itself, so the recursion is
#: purely data-parallel and the fixpoint is reached in ~log10(maxkey)
#: rounds (4 at sf0.01, 5 at sf1).
RECURSIVE_FANOUT = 10


@register(
    "q_sql_recursive",
    oracle=f"""
    WITH RECURSIVE anc AS (
        SELECT p_partkey AS part, p_partkey AS node, 0 AS depth FROM part
        UNION ALL
        SELECT part, node // {RECURSIVE_FANOUT}, depth + 1
        FROM anc WHERE node >= {RECURSIVE_FANOUT}
    )
    SELECT part AS p_partkey, node AS root, CAST(depth AS INT) AS depth
    FROM anc WHERE node < {RECURSIVE_FANOUT}
    """,
    tier="B",
    doc="Recursive CTE (WITH RECURSIVE, Spark 4's recursive-CTE support) "
    f"resolving every part's root ancestor and depth in the synthetic "
    f"parent(k) = k DIV {RECURSIVE_FANOUT} hierarchy — the org-chart / "
    "BOM-rollup query shape relational engines historically could not "
    "express and Spark now runs natively. Plan: each recursion round is "
    "one map-only projection + filter over the previous frontier (the "
    "step derives the parent arithmetically — no join), the frontier "
    "SHRINKS monotonically (rows retire into the answer as they reach "
    "a root), and the fixpoint arrives in ceil(log10(max key)) rounds "
    "— 4 at sf0.01. With a real edge table the step becomes an equi-"
    "join against a (broadcastable) parent map: the same round "
    "structure the distributed connected-components loop in "
    "operators/graph.py uses. Determinism: pure integer arithmetic; "
    "depth exact. Scale: rounds grow logarithmically with key range, "
    "each round is shuffle-free here (and one hash join in the edge-"
    "table form) — the canonical iterative-relational shape at 100 TB.",
)
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        f"""
        WITH RECURSIVE anc AS (
            SELECT p_partkey AS part, p_partkey AS node, 0 AS depth FROM part
            UNION ALL
            SELECT part, node DIV {RECURSIVE_FANOUT}, depth + 1
            FROM anc WHERE node >= {RECURSIVE_FANOUT}
        )
        SELECT part AS p_partkey, node AS root, CAST(depth AS INT) AS depth
        FROM anc WHERE node < {RECURSIVE_FANOUT}
        """
    )


# ---------------------------------------------------------------------------
# Bloom-filtered semi join
# ---------------------------------------------------------------------------

#: Bloom geometry: 2^16 bits packed into 1024 longs, 3 probes per key.
#: At sf0.1's ~15k filtered keys the false-positive rate is ~(1-e^(-3n/m))^3
#: ≈ 12% — the pre-filter still drops ~88% of non-matching fact rows
#: before the exact join. Scale m with the dim cardinality in production.
BLOOM_BITS = 1 << 16
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_PROBES = 3
#: Dim-side predicate: high-value orders (~10% of orders).
BLOOM_MIN_TOTALPRICE = 450000.0


@register(
    "q_bloom_join",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {o_dec_to_double("SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))", 2)}
             AS sum_price
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_totalprice > {BLOOM_MIN_TOTALPRICE})
    GROUP BY l.l_returnflag
    """,
    tier="B",
    doc="Bloom-filtered semi join — Spark's runtime row-level filtering "
    "(InjectRuntimeFilter) built explicitly as a first-class operator: "
    "the filtered dim keys (high-value orders) are folded into a "
    f"{BLOOM_BITS}-bit Bloom filter ({BLOOM_PROBES} double-hashed "
    "probes per key, bits packed into bit_or-aggregated longs), the "
    f"fact side pre-filters through the {BLOOM_WORDS}-row broadcast "
    "bitmap with THREE map-only broadcast joins (one per probe — no "
    "shuffle, no explode), and only the surviving ~12%-FP candidate "
    "set pays the exact semi join that removes false positives. The "
    "oracle is the PLAIN semi join: the hash match proves the Bloom "
    "pre-filter is lossless (no false negatives — every inserted key's "
    "bits are set by construction). Determinism: bitmap content is a "
    "bit_or of xxhash64-derived masks (order-free; the family needs no "
    "DuckDB mirror — the oracle checks the final answer, not the "
    "bitmap); final aggregates are "
    "exact counts + DECIMAL sums. Scale: this is THE shuffle-volume "
    "lever for selective fact-dim joins at 100 TB — the Bloom bitmap "
    "is O(bits) broadcast state however large the fact side, and the "
    "exact join's shuffle carries only pre-filter survivors.",
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > BLOOM_MIN_TOTALPRICE)
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )

    def with_probes(df, key_col):
        # Kirsch-Mitzenberger double hashing over xxhash64 — the
        # engine-internal hash is the right tool here BECAUSE the
        # oracle never reproduces the bitmap (losslessness is
        # structural, whatever the family): native, ~50× cheaper per
        # row than an md5+conv chain, and NON-NULLABLE. Nullability is
        # load-bearing, not cosmetic: with a nullable probe expression
        # (any md5/conv chain), the probe joins' null-intolerant keys
        # make InferFiltersFromConstraints synthesize isnotnull(pos_i)
        # predicates below this projection, re-deriving the whole hash
        # chain once per probe per row inside a Filter node — measured
        # 4.5 s of the query's 5.6 s at sf0.1 before this form.
        # Both hashes are reduced into the bit-space BEFORE the probe
        # arithmetic so h1 + i·h2 stays < 3·2^16 — ANSI mode (Spark 4
        # default) hard-errors on long overflow, and raw xxhash64
        # values would overflow the multiply.
        h1 = F.pmod(F.xxhash64(key_col), F.lit(BLOOM_BITS))
        h2 = F.pmod(F.xxhash64(key_col, F.lit(1)), F.lit(BLOOM_BITS))
        hashed = df.select("*", h1.alias("_h1"), h2.alias("_h2"))
        return hashed.select(
            "*",
            *[
                F.pmod(F.col("_h1") + F.lit(i) * F.col("_h2"), F.lit(BLOOM_BITS)).alias(
                    f"_pos{i}"
                )
                for i in range(BLOOM_PROBES)
            ],
        ).drop("_h1", "_h2")

    # Build: explode each key into its probe bit positions, bit_or the
    # masks per 64-bit word — a tiny (≤1024-row) aggregate.
    probes = with_probes(keys, F.col("o_orderkey")).select(
        F.explode(F.array(*[F.col(f"_pos{i}") for i in range(BLOOM_PROBES)])).alias(
            "_pos"
        )
    )
    # the word index is PROJECTED before the groupBy (not inlined as a
    # grouping expression) so the plan's agg line reads keys=[_bloom_w#N]
    # — self-describing to the broadcast audit's bounded-key rule
    # (BLOOM_BITS/64 ≤ 1024 words at any SF) instead of an opaque
    # Catalyst _groupingexpression alias. The name is the distinctive
    # engine-derived form (r14 ADVICE): a generic "_w" in the bounded
    # set would also exempt any future corpus-keyed aggregate that
    # happened to reuse it.
    bloom = (
        probes.select(
            (F.col("_pos") / 64).cast("long").alias("_bloom_w"), F.col("_pos")
        )
        .groupBy("_bloom_w")
        .agg(
            F.expr("bit_or(shiftleft(1L, CAST(_pos % 64 AS INT)))").alias("_bits")
        )
    )
    # Probe: three map-only broadcast joins; a row survives only if all
    # three of its bits are set (a missing word ⇒ bloom miss ⇒ join drop).
    cand = with_probes(li, F.col("l_orderkey"))
    for i in range(BLOOM_PROBES):
        b = F.broadcast(
            bloom.select(
                F.col("_bloom_w").alias(f"_w{i}"), F.col("_bits").alias(f"_b{i}")
            )
        )
        pos = F.col(f"_pos{i}")
        mask = F.expr(f"shiftleft(1L, CAST(_pos{i} % 64 AS INT))")
        cand = cand.join(
            b,
            ((pos / 64).cast("long") == F.col(f"_w{i}"))
            & (F.col(f"_b{i}").bitwiseAND(mask) == mask),
        )
    # Exact verify removes Bloom false positives. An INNER join against
    # the (primary-key-unique) key set is semantically the semi join —
    # and unlike a LeftSemi it is NOT subject to PushDownLeftSemiAntiJoin,
    # which would reorder the exact join BELOW the Bloom probes and
    # invert the operator's whole point (prefilter first, verify last).
    verified = cand.select("l_orderkey", "l_returnflag", "l_extendedprice").join(
        keys, cand["l_orderkey"] == keys["o_orderkey"], "inner"
    )
    return verified.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_extendedprice").cast("decimal(18,2)"), 2).alias(
            "sum_price"
        ),
    )


# ---------------------------------------------------------------------------
# CDC log application
# ---------------------------------------------------------------------------

#: Event-type → CDC op mapping: signup inserts, engagement events
#: upsert the running value, error tombstones the key.
CDC_DELETE_TYPE = "error"


@register(
    "q_cdc_apply",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        FROM events
    )
    SELECT user_id, value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts, n_ops
    FROM ranked
    WHERE rn = 1 AND event_type <> '{CDC_DELETE_TYPE}'
    """,
    tier="B",
    doc="CDC change-log application: the events stream read as an "
    "ordered changelog on user_id (engagement events upsert the "
    f"running value; '{CDC_DELETE_TYPE}' is a delete tombstone) and "
    "collapsed to the final snapshot — last writer wins by (ts, "
    "event_id), keys whose LAST op is a tombstone vanish. This is the "
    "Debezium/Delta MERGE 'apply changes' semantics as one query, and "
    "the batch analog of streaming dedup-with-deletes. Plan: one "
    "row_number + count window per key partition, filter rn=1 — a "
    "single shuffle on the key, no join (q_merge_upsert merges two "
    "STATIC tables; this collapses an ordered op LOG). Determinism: "
    "(ts, event_id) is a unique total order per key, so the surviving "
    "row is exact; ts rendered as a string. Scale: state per key is "
    "one row; at 100 TB the same query shape runs per partition of a "
    "date-bucketed log and the per-key window never materializes the "
    "log in memory (sort-based window).",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wc = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            "value",
            "ts",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_ops"),
        )
        .where((F.col("rn") == 1) & (F.col("event_type") != CDC_DELETE_TYPE))
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "n_ops",
        )
    )


# ---------------------------------------------------------------------------
# Zone-map data skipping
# ---------------------------------------------------------------------------

#: Rows-per-block granularity for the synthetic zone map (by order key
#: range — the key the fact table would be written clustered on).
ZONE_BLOCK_KEYS = 256
#: The range predicate whose skipping potential the zone map reports.
ZONE_PRED_LO = "1997-01-01"
ZONE_PRED_HI = "1997-12-31"


@register(
    "q_zone_map",
    oracle=f"""
    SELECT l_orderkey // {ZONE_BLOCK_KEYS} AS block_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship,
           (MAX(l_shipdate) >= TIMESTAMP '{ZONE_PRED_LO} 00:00:00' AND
            MIN(l_shipdate) <= TIMESTAMP '{ZONE_PRED_HI} 00:00:00') AS would_scan
    FROM lineitem
    GROUP BY 1
    """,
    tier="B",
    doc="Zone-map (min/max data-skipping statistics) build + pruning "
    f"report: lineitem blocked into {ZONE_BLOCK_KEYS}-key ranges of its "
    "write-cluster key, per-block row count and l_shipdate min/max, "
    "and the boolean verdict of whether a given ship-date range "
    "predicate could SKIP the block entirely — exactly the per-file "
    "footer stats Parquet/Delta/Iceberg keep and the pruning decision "
    "their scan planners make (and what q_scan_zorder's Morton layout "
    "optimizes for two dimensions at once). Plan: one groupBy on an "
    "arithmetic block id — a single map-side-combinable aggregate; the "
    "predicate check is a scalar expression over the 1-row-per-block "
    "aggregate. Determinism: integer block ids, exact counts, min/max "
    "of identical timestamps rendered as strings. Scale: zone-map "
    "state is O(blocks) not O(rows) — this query IS the metadata table "
    "a 100-TB lakehouse consults before touching data; an unclustered "
    "key would show would_scan=true everywhere, which is the signal to "
    "re-cluster (q_scan_zorder).",
)
def q_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            (F.col("l_orderkey") / ZONE_BLOCK_KEYS).cast("long").alias("block_id")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_shipdate").alias("_min_ts"),
            F.max("l_shipdate").alias("_max_ts"),
        )
        .select(
            "block_id",
            "n_rows",
            F.date_format("_min_ts", "yyyy-MM-dd").alias("min_ship"),
            F.date_format("_max_ts", "yyyy-MM-dd").alias("max_ship"),
            (
                (F.col("_max_ts") >= F.lit(f"{ZONE_PRED_LO} 00:00:00").cast("timestamp"))
                & (F.col("_min_ts") <= F.lit(f"{ZONE_PRED_HI} 00:00:00").cast("timestamp"))
            ).alias("would_scan"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-union coverage
# ---------------------------------------------------------------------------

#: Each event opens a fixed activity window; coverage = measure of the
#: UNION of those (overlapping) intervals per user, in microseconds.
COVERAGE_WINDOW_US = 300_000_000  # 5 minutes


@register(
    "q_interval_coverage",
    oracle=f"""
    WITH iv AS (SELECT user_id,
                       epoch_us(ts) AS s,
                       epoch_us(ts) + {COVERAGE_WINDOW_US} AS e,
                       event_id
                FROM events WHERE ts IS NOT NULL),
    marked AS (SELECT user_id, s, e, event_id,
                      CASE WHEN s > COALESCE(MAX(e) OVER (
                             PARTITION BY user_id ORDER BY s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             -1)
                           THEN 1 ELSE 0 END AS new_island
               FROM iv),
    isl AS (SELECT user_id, s, e,
                   SUM(new_island) OVER (PARTITION BY user_id
                                         ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS island
            FROM marked),
    per_island AS (SELECT user_id, island,
                          MAX(e) - MIN(s) AS covered
                   FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(SUM(covered) AS BIGINT) AS covered_us,
           CAST(COUNT(*) AS BIGINT) AS n_islands
    FROM per_island GROUP BY user_id
    """,
    tier="B",
    doc="Interval-union coverage per user: every event opens a 5-minute "
    "activity window; the query reports the exact measure of the UNION "
    "of those overlapping intervals (total active microseconds) and "
    "the number of disjoint activity islands — the SLA-uptime / "
    "sensor-coverage / ad-exposure computation, and the measure-valued "
    "complement of q_sessionize (which clusters EVENTS by gap; this "
    "measures covered TIME, which gap clustering does not yield). "
    "Plan: the classic sweep — one window pass marks island starts "
    "(interval start beyond the running max end), a second running sum "
    "numbers islands, one aggregate per island then per user; all "
    "three shuffles are on user_id and AQE collapses the aggregate "
    "exchanges into the window's partitioning. Determinism: pure "
    "BIGINT microsecond arithmetic ((ts, event_id) breaks start ties; "
    "the island running-max is order-insensitive past the unique "
    "sort). Scale: per-user sort is the only super-linear term — "
    "bounded by per-key cardinality, spillable, and at 100 TB the log "
    "is date-partitioned so each partition sweeps independently with "
    "boundary islands merged by a second tiny pass.",
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # a NULL event time opens no activity interval (skew10 policy)
    ev = ev.where(F.col("ts").isNotNull())
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(COVERAGE_WINDOW_US)).alias("e"),
        "event_id",
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
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    # BOTH windows order by the UNIQUE (s, event_id) key: ordering the
    # island cumsum by the non-unique (s, e) would let two events at
    # the same timestamp swap across the island boundary the marking
    # pass chose — a latent nondeterminism even though the current
    # testdata's µs timestamps never collide.
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_cum).alias("island")
    )
    per_island = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return per_island.groupBy("user_id").agg(
        F.sum("covered").cast("long").alias("covered_us"),
        F.count("*").alias("n_islands"),
    )


# ---------------------------------------------------------------------------
# Calendar dimension generation
# ---------------------------------------------------------------------------


@register(
    "q_date_dim",
    oracle="""
    WITH span AS (SELECT CAST(MIN(l_shipdate) AS DATE) AS lo,
                         CAST(MAX(l_shipdate) AS DATE) AS hi
                  FROM lineitem),
    days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
             FROM span)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(year(d) AS INT) AS yr,
           CAST(quarter(d) AS INT) AS qtr,
           CAST(month(d) AS INT) AS mth,
           CAST((datediff('day', DATE '1970-01-01', CAST(d AS DATE)) + 4) % 7
                AS INT) AS dow,
           ((datediff('day', DATE '1970-01-01', CAST(d AS DATE)) + 4) % 7)
             IN (0, 6) AS is_weekend
    FROM days
    """,
    tier="B",
    doc="Calendar-dimension generation over the fact table's date span: "
    "one row per day between min and max l_shipdate with year / "
    "quarter / month / day-of-week / weekend attributes — the date "
    "dimension every warehouse joins its facts to, generated rather "
    "than maintained. Plan: a 1-row min/max aggregate, then "
    "sequence() + explode generates the spine with NO source rows "
    "read again — a generator source (the same shape gap-filling and "
    "backfill scaffolds use, q_gap_fill). Determinism: day-of-week is "
    "computed ARITHMETICALLY ((days-since-epoch + 4) mod 7, 0 = "
    "Sunday) rather than via locale-dependent day-name functions or "
    "the engines' off-by-one dayofweek conventions; all other "
    "attributes are exact integer date parts; dates render as "
    "strings. Scale: output is O(span days) regardless of fact "
    "cardinality — the aggregate is the only distributed work.",
)
def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    span = li.agg(
        F.min(F.col("l_shipdate").cast("date")).alias("lo"),
        F.max(F.col("l_shipdate").cast("date")).alias("hi"),
    )
    days = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    dow = (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) + 4) % 7
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.year("d").alias("yr"),
        F.quarter("d").alias("qtr"),
        F.month("d").alias("mth"),
        dow.cast("int").alias("dow"),
        dow.isin(0, 6).alias("is_weekend"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (time travel)
# ---------------------------------------------------------------------------

#: The two table-version cutoffs being diffed (order date strictly
#: before each): "as of T1" vs "as of T2" on an append-only fact.
SNAPSHOT_T1 = "1999-01-01"
SNAPSHOT_T2 = "2000-01-01"


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH s1 AS (SELECT o_custkey,
                       CAST(COUNT(*) AS BIGINT) AS n_orders,
                       {o_dec_to_double("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)}
                         AS spend
                FROM orders WHERE o_orderdate < TIMESTAMP '{SNAPSHOT_T1} 00:00:00'
                GROUP BY o_custkey),
    s2 AS (SELECT o_custkey,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  {o_dec_to_double("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)}
                    AS spend
           FROM orders WHERE o_orderdate < TIMESTAMP '{SNAPSHOT_T2} 00:00:00'
           GROUP BY o_custkey)
    SELECT COALESCE(s1.o_custkey, s2.o_custkey) AS o_custkey,
           CASE WHEN s1.o_custkey IS NULL THEN 'added'
                WHEN s1.n_orders <> s2.n_orders THEN 'changed'
                ELSE 'unchanged' END AS status,
           s1.n_orders AS old_n, s2.n_orders AS new_n,
           s1.spend AS old_spend, s2.spend AS new_spend
    FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey
    """,
    tier="B",
    doc="Snapshot diff (time travel): the per-customer order-count / "
    "spend rollup 'as of' two table versions, full-outer joined into an "
    "added / changed / unchanged change report — the audit query a "
    "lakehouse answers from Delta/Iceberg snapshot metadata, computed "
    "here from the append-only fact itself (an append-only log IS its "
    "own version history; 'removed' is impossible by construction and "
    "correctly never appears). Plan: ONE scan serves both snapshots "
    "(two conditional aggregates over the shared shuffle would also "
    "work; Catalyst instead reuses the exchange for the two grouped "
    "aggregates via AQE), then a key-partitioned full outer join of "
    "two already-aggregated (small) sides. Determinism: exact counts, "
    "DECIMAL-accumulated spend cast to double once; the status CASE "
    "compares integers. Scale: diff state is per-key aggregates, not "
    "row pairs — at 100 TB both snapshot aggregates shuffle the SAME "
    "key, so the join is co-partitioned with zero extra exchange.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def snap(cutoff: str) -> DataFrame:
        return (
            orders.where(
                F.col("o_orderdate") < F.lit(f"{cutoff} 00:00:00").cast("timestamp")
            )
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                dec_to_double(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
                ).alias("spend"),
            )
        )

    s1 = snap(SNAPSHOT_T1).select(
        F.col("o_custkey").alias("_k1"),
        F.col("n_orders").alias("old_n"),
        F.col("spend").alias("old_spend"),
    )
    s2 = snap(SNAPSHOT_T2).select(
        F.col("o_custkey").alias("_k2"),
        F.col("n_orders").alias("new_n"),
        F.col("spend").alias("new_spend"),
    )
    j = s1.join(s2, s1["_k1"] == s2["_k2"], "full_outer")
    return j.select(
        F.coalesce("_k1", "_k2").alias("o_custkey"),
        F.when(F.col("_k1").isNull(), "added")
        .when(F.col("old_n") != F.col("new_n"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        "old_n",
        "new_n",
        "old_spend",
        "new_spend",
    )


# ---------------------------------------------------------------------------
# Sequence-gap detection
# ---------------------------------------------------------------------------


@register(
    "q_sequence_gaps",
    oracle="""
    WITH ids AS (SELECT event_id,
                        LAG(event_id) OVER (ORDER BY event_id) AS prev_id
                 FROM events WHERE event_type = 'click')
    SELECT prev_id + 1 AS gap_start,
           event_id - 1 AS gap_end,
           CAST(event_id - prev_id - 1 AS BIGINT) AS gap_len
    FROM ids WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    """,
    tier="B",
    doc="Sequence-gap detection over an integer id domain: the missing "
    "event_id ranges within the 'click' sub-stream — the completeness "
    "audit for any ingest that promises dense sequence numbers "
    "(Kafka offsets, CDC LSNs, invoice numbers); each output row is "
    "one contiguous hole with its bounds and length. Plan: one global "
    "lag window over the filtered ids — the gaps-and-islands lag "
    "formulation (q_sessionize's shape on an integer domain, emitting "
    "the HOLES instead of the islands). The single-partition window "
    "is exact and fine at dimension scale; a planet-scale form would "
    "range-partition the ids and stitch partition boundaries with a "
    "second tiny pass. Determinism: pure integer arithmetic on "
    "distinct ids.",
)
def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    # one-task lag over the (distinct) click ids
    ids = ev.select("event_id").withColumn(
        "prev_id", F.lag("event_id").over(Window.orderBy("event_id"))
    )
    return ids.where(
        F.col("prev_id").isNotNull() & (F.col("event_id") - F.col("prev_id") > 1)
    ).select(
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).cast("long").alias("gap_len"),
    )


# ---------------------------------------------------------------------------
# Spatial proximity join (grid-bucketed)
# ---------------------------------------------------------------------------

#: Synthetic plane: md5-derived integer coordinates in tenths, 0..9999
#: (a 1000×1000 unit plane at 0.1 resolution — both engines derive the
#: same points from event_id, house-style).
GEO_COORD_MOD = 10_000
#: Proximity radius in tenths (5.0 units) — also the grid cell width,
#: the standard choice that caps candidate search at the 3×3 neighbor
#: block.
GEO_RADIUS_TENTHS = 50
#: Point population: one event type keeps the testdata output readable.
GEO_POINT_TYPE = "purchase"


@register(
    "q_geo_grid_join",
    oracle=f"""
    WITH pts AS (SELECT event_id,
                        ('0x' || substr(md5('gx:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                          % {GEO_COORD_MOD} AS x,
                        ('0x' || substr(md5('gy:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                          % {GEO_COORD_MOD} AS y
                 FROM events WHERE event_type = '{GEO_POINT_TYPE}')
    SELECT a.event_id AS event_a, b.event_id AS event_b,
           CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.event_id < b.event_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {GEO_RADIUS_TENTHS * GEO_RADIUS_TENTHS}
    """,
    tier="B",
    doc="Spatial proximity self-join: all point pairs within radius r on "
    "a plane (points md5-derived from event ids so both engines see "
    "identical coordinates), via GRID BUCKETING — the spatial analog "
    "of the LSH-banding pattern and the third member of the engine's "
    "multi-dimensional family (q_scan_zorder curves the STORAGE, "
    "q_join_interval_overlap buckets ONE dimension, this buckets two): "
    "cell width = r, each point probes its 3×3 neighbor block (a "
    "9-way explode), candidates meet by cell-key equi-join, and one "
    "exact integer distance² compare verifies. Lossless by geometry: "
    "a pair within r differs by ≤1 cell per axis, so the probe block "
    "always covers the partner's home cell — and the BRUTE-FORCE "
    "all-pairs oracle proves it. Each qualifying pair emerges exactly "
    "once (the a<b orientation finds b's unique home cell in a's "
    "block), so no distinct is needed. Determinism: integer-tenth "
    "coordinates make the radius boundary an exact integer compare — "
    "no float can flip a pair at distance exactly r. Scale: shuffle "
    "is 9×|points| cell keys; cell occupancy bounds every reducer "
    "(skewed hotspots → smaller cells + a df-cap, the jaccard_pairs "
    "discipline); this is how Sedona/Magellan-class systems shape "
    "distance joins.",
)
def q_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.hashing import hash60

    r = GEO_RADIUS_TENTHS
    pts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == GEO_POINT_TYPE)
        .select(
            "event_id",
            (hash60(F.col("event_id").cast("string"), seed="gx") % GEO_COORD_MOD).alias("x"),
            (hash60(F.col("event_id").cast("string"), seed="gy") % GEO_COORD_MOD).alias("y"),
        )
    )
    probe = pts.select(
        F.col("event_id").alias("event_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        ((F.col("x") / r).cast("long") + dx).alias("cx"),
                        ((F.col("y") / r).cast("long") + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("_cell"),
    ).select("event_a", "xa", "ya", "_cell.cx", "_cell.cy")
    home = pts.select(
        F.col("event_id").alias("event_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        (F.col("x") / r).cast("long").alias("cx"),
        (F.col("y") / r).cast("long").alias("cy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(home, ["cx", "cy"])
        .where(F.col("event_a") < F.col("event_b"))
        .where(d2 <= F.lit(r * r))
        .select("event_a", "event_b", d2.cast("long").alias("dist2"))
    )


# --------------------------------------------------------------------------
# Small-file compaction planning (sorted-fill bin packing)
# --------------------------------------------------------------------------

#: Target rows per compacted output file for q_compaction_bins.
COMPACT_TARGET_ROWS = 2_000


@register(
    "q_compaction_bins",
    oracle=f"""
    WITH files AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS part_month,
             o_orderpriority AS file_key,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1, 2),
    packed AS (
      SELECT part_month, file_key, n_rows,
             CAST(COALESCE(SUM(n_rows) OVER (
                    PARTITION BY part_month
                    ORDER BY n_rows DESC, file_key
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS before_rows
      FROM files)
    SELECT part_month,
           CAST(before_rows // {COMPACT_TARGET_ROWS} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS bin_rows
    FROM packed
    GROUP BY 1, 2
    """,
    tier="B",
    doc="Small-file compaction PLAN for a partitioned table: treat "
    "each (month, priority) orders group as one data file, then "
    "assign files to target-size output bins per partition via "
    "sorted-fill packing — files ordered largest-first, a running "
    "pre-sum window, and bin = floor(rows_before / target). "
    "Deterministic (total tiebreak on file_key), one window + two "
    "aggregations, and entirely metadata-shaped: the real 100-TB "
    "version runs this over the table MANIFEST (file path + row "
    "count + partition values — millions of rows, not the data "
    "itself), emits one compaction job per bin, and never touches "
    "payload bytes until the rewrite executes. Sorted-fill "
    "guarantees every bin except a partition's last holds >= target "
    "rows while keeping the plan a pure window expression — the "
    "first-fit-decreasing refinement needs a sequential scan per "
    "partition and buys <1% fewer bins at manifest scale.",
)
def q_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "part_month"
        ),
        F.col("o_orderpriority").alias("file_key"),
    ).agg(F.count("*").cast("long").alias("n_rows"))
    w = (
        Window.partitionBy("part_month")
        .orderBy(F.col("n_rows").desc(), "file_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.select(
        "part_month",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("long").alias("before_rows"),
    )
    return packed.groupBy(
        "part_month",
        F.expr(f"before_rows div {COMPACT_TARGET_ROWS}").cast("long").alias("bin"),
    ).agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("bin_rows"),
    )
