"""Relational core: scans, filters, projections, joins, aggs, windows,
sorts, set operations (SURVEY.md §2.1-2.7).

The reference only ever executes the Tier-A subset (scan / cast-project /
filter / groupBy-collect_list: news_summarization_batch.py:100-112,
news_categorization_streaming.py:57); everything else here is the Tier-B
relational surface a general engine needs, built entirely from Catalyst
primitives so pushdown, pruning, join selection, AQE and whole-stage
codegen apply with zero custom code.

Scale notes inline per query; the global rules:

- only SF-CONSTANT dimension tables (region/nation) carry explicit
  ``broadcast()`` hints; SF-scaling dims (customer/part/supplier) are
  estimate-driven — broadcast while they fit, shuffle join past the
  threshold (round 13 purged the pinned hints; a hint is honored past
  the 8 GB broadcast limit and would fail the job at 100 TB);
- fact-fact joins shuffle on the join key and rely on AQE skew-split;
- aggregations are expressed so Catalyst plans partial (map-side)
  aggregation before the exchange;
- top-k uses orderBy+limit which Spark plans as TakeOrderedAndProject
  (per-partition heap + driver merge of k rows — no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
    scaled_to_double,
)
from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.functions.scale import broadcast_if_small
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

#: 20-bit limb mask for dsum's native-long accumulation (below).
_LIMB20 = (1 << 20) - 1

#: Accumulation mode — never set in production. "limb" (default) =
#: three native long sums; "decimal" = the pre-round-10
#: DECIMAL(30,scale) aggregation buffer, kept as the reference that
#: tests/test_exact_conversion.py proves the limb path bit-identical to
#: through the SAME registered plan builder.
DSUM_MODE = "limb"


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Exactly-reproducible sum of a double column.

    Quantizes each row to DECIMAL(30, scale) (the per-row double value is
    identical in any engine — IEEE754 — and the true values here carry at
    most ~4 meaningful decimals, so quantizing at 6 is error-free), then
    accumulates the EXACT scaled integers as three native long sums
    instead of a decimal aggregate buffer — the q_corr_matrix limb-split
    trick generalized to signed values: with arithmetic-shift limbs
    (q = (q>>40)·2^40 + ((q>>20)&m)·2^20 + (q&m), a two's-complement
    identity), the three partial sums reassemble the decimal-exact total
    in DECIMAL(38,0) with zero error. Exactness bound (JOINT — round-11
    advice: the two separate bounds were not jointly sufficient): the
    mid/lo limbs are < 2^20 per row, so their long sums hold to 2^43
    rows/group, but the HI limb is up to |q|>>40 ≈ 2^23 per row at the
    per-row cap |q| = |v·10^scale| < 2^63, so the binding constraint is

        rows/group × max(|q| >> 40) < 2^63
        (≈ 2^40 rows/group at max per-row magnitude, back to 2^43 when
        per-row |q| ≤ 2^60),

    a silent two's-complement wrap — a WRONG ANSWER, not a NULL — if
    violated (non-ANSI Spark long sum; pinned at the joint bound by
    tests/test_overflow_bounds.py). Real domains sit orders of magnitude
    inside: money-domain |q| ≈ 2^24 < 2^40 makes the per-row hi limb
    0 (or −1 for negatives), so the binding constraint is the mid/lo
    2^43 rows/group ≈ 8.8·10^12 — and the oracle, which keeps the int128
    decimal sum, diverges (loudly) first. Measured vs the
    decimal-aggregate form it replaces: 1.5x at sf0.1, 1.7x at sf1 on a
    4-dsum lineitem aggregate, OUTPUT BIT-IDENTICAL including negatives
    (interleaved A/B, round 10 — the decimal tax became visible once the
    bench stopped count()-pruning the aggregates).

    The total converts to double through ``functions/exact``'s
    deterministic chain — bit-identical between Spark and DuckDB at ANY
    magnitude (a plain decimal→double cast hash-flips past a scaled
    2^53; measured, tests/test_overflow_bounds.py), and bit-identical to
    the old direct cast below 2^53, so every prior driver hash holds.
    Reduction-order-independent by integer exactness. Oracle mirror:
    :func:`o_dsum` (DuckDB keeps the int128 decimal sum — same integer,
    same chain, same bits).
    """
    c = F.col(col) if isinstance(col, str) else col
    if DSUM_MODE == "decimal":  # A/B reference accumulation (see toggle)
        return dec_to_double(F.sum(c.cast(f"decimal(30,{scale})")), scale)
    q = (c.cast(f"decimal(30,{scale})") * F.lit(10**scale)).cast("long")
    hi = F.sum(F.shiftright(q, 40))
    mid = F.sum(F.shiftright(q, 20).bitwiseAND(F.lit(_LIMB20)))
    lo = F.sum(q.bitwiseAND(F.lit(_LIMB20)))
    si = (
        hi.cast("decimal(38,0)") * F.lit(1 << 40)
        + mid.cast("decimal(38,0)") * F.lit(1 << 20)
        + lo.cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    return scaled_to_double(si, scale)


def o_dsum(expr: str, scale: int = 6) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    return o_dec_to_double(f"SUM(CAST({expr} AS DECIMAL(30,{scale})))", scale)


def nonfinite(col: Column | str) -> Column:
    """Row predicate: the double view of ``col`` is NaN or ±Inf.

    NULL inputs are NOT non-finite (they are absent, and both engines
    skip them in aggregation) — callers fold the NULL case with
    ``F.coalesce(nonfinite(c), F.lit(False))`` where needed."""
    c = F.col(col) if isinstance(col, str) else col
    cd = c.cast("double")
    return F.isnan(cd) | (F.abs(cd) == float("inf"))


def dsum_fin(col: Column | str, scale: int = 6) -> Column:
    """:func:`dsum` with the POISON → NULL non-finite contract.

    ``dsum`` assumes finite input — money-style columns whose schema
    contract forbids NaN/Inf. Metric columns (events.value, derived
    features) carry no such contract at 100 TB: an upstream division
    or overflow WILL plant non-finite doubles, and the engines then
    disagree at the decimal quantization (Spark's double→decimal cast
    NULLs non-finite SILENTLY — even under ANSI — while DuckDB refuses
    the cast; the /tmp/skew7 finding). This variant makes the
    disagreement impossible and the data defect VISIBLE: any
    non-finite input makes the group's exact sum NULL on both engines
    — loud, deterministic, never a silently-short total. Callers who
    want exclusion instead filter ``~nonfinite(c)`` upstream, where
    the choice is explicit. Cost: one extra boolean MAX riding the
    same aggregate (map-side partials merge it for free)."""
    c = F.col(col) if isinstance(col, str) else col
    poisoned = F.max(F.coalesce(nonfinite(c), F.lit(False)))
    return F.when(~poisoned, dsum(c, scale))


def o_fin(expr: str) -> str:
    """DuckDB fragment: ``expr`` where finite, else NULL — the cast
    guard every oracle needs before a decimal/integer cast of a metric
    column (DuckDB refuses non-finite casts outright, and SQL does not
    guarantee conjunct order, so the guard must be a CASE the cast
    sits inside)."""
    return f"(CASE WHEN isfinite({expr}) THEN {expr} END)"


def o_dsum_fin(expr: str, scale: int = 6) -> str:
    """DuckDB-side mirror of :func:`dsum_fin` (poison → NULL)."""
    return (
        f"(CASE WHEN COUNT(CASE WHEN NOT isfinite({expr}) THEN 1 END) = 0 "
        f"THEN {o_dsum(o_fin(expr), scale)} END)"
    )


def poisoned_flag(col: Column | str) -> Column:
    """Aggregate boolean: the group saw a non-finite value of ``col``.
    The building block for multi-output poison → NULL aggregates where
    several sums share one flag (see :func:`dsum_fin` for the
    contract); NULLs never poison."""
    return F.max(F.coalesce(nonfinite(col), F.lit(False)))


def o_poisoned(expr: str) -> str:
    """DuckDB-side mirror of :func:`poisoned_flag`."""
    return f"(COUNT(CASE WHEN NOT isfinite({expr}) THEN 1 END) > 0)"


#: q_agg_filtered's cents-quantized purchase sum (scale 2 after the
#: inner 6-dp accumulate), hoisted for o_dec_to_double. The per-row
#: CASE is finite-guarded (o_fin shape) and the whole sum carries the
#: poison -> NULL contract (see dsum_fin): a non-finite purchase value
#: NULLs that user's total on BOTH engines instead of DuckDB refusing
#: the decimal cast while Spark silently drops the row.
_O_PURCHASE_ROW = "CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END"
_O_PURCHASE_CENTS = (
    f"CAST(SUM(CAST((CASE WHEN isfinite({_O_PURCHASE_ROW}) THEN {_O_PURCHASE_ROW} END)"
    " AS DECIMAL(30,6))) AS DECIMAL(30,2))"
)
_O_PURCHASE_POISONED = (
    f"COUNT(CASE WHEN NOT isfinite({_O_PURCHASE_ROW}) THEN 1 END) > 0"
)


# ---------------------------------------------------------------------------
# §2.1 scans
# ---------------------------------------------------------------------------


@register(
    "q_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem WHERE l_quantity > 45.0
    """,
    tier="B",
    doc="Parquet scan with pushed-down predicate + column pruning. "
    "`.explain` shows PushedFilters: [GreaterThan(l_quantity,45.0)] and a "
    "4-column ReadSchema — at 100 TB only matching row groups are read.",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") > 45.0).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )


@register(
    "q_scan_range_pred",
    oracle="""
    SELECT event_id, ts, event_type
    FROM events WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
    """,
    tier="A",
    doc="Timestamp range scan ≙ Mongo find({'created_at': {'$gt': ts}}) "
    "(database_storage.py:30-32) re-expressed as a pushdown predicate; at "
    "scale the table is partitioned by date so this prunes partitions.",
)
def q_scan_range_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("ts") > F.lit("2024-01-02 00:00:00").cast("timestamp")).select(
        "event_id", "ts", "event_type"
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------


@register(
    "q_project_cast",
    oracle="""
    SELECT event_id,
           -- o_fin guard: Spark's double->decimal cast NULLs non-finite
           -- values; DuckDB refuses the cast, so guard it (per-row
           -- non-finite -> NULL message, visible in the row)
           CAST(CAST((CASE WHEN isfinite(value) THEN value END)
                     AS DECIMAL(18,2)) AS VARCHAR) AS message,
           CAST(event_id AS VARCHAR) AS id_str
    FROM events
    """,
    tier="A",
    doc="Projection+cast+alias ≙ selectExpr(\"CAST(value AS STRING) as message\") "
    "(news_categorization_streaming.py:57). Doubles go through DECIMAL(18,2) "
    "so the string rendering is engine-independent.",
)
def q_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("value").cast("decimal(18,2)").cast("string").alias("message"),
        F.col("event_id").cast("string").alias("id_str"),
    )


@register(
    "q_filter_neq",
    oracle="SELECT doc_id, lang, source FROM documents WHERE text <> '' AND lang <> 'zh'",
    tier="A",
    doc="Inequality filter ≙ filter(col('summary') != '') "
    "(news_summarization_batch.py:102), placed BEFORE any UDF stage so "
    "Catalyst pushes it into the scan (fixes the reference's post-UDF filter).",
)
def q_filter_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where((F.col("text") != "") & (F.col("lang") != "zh")).select("doc_id", "lang", "source")


@register(
    "q_filter_null_guard",
    oracle="""
    SELECT event_id,
           CASE WHEN props IS NULL OR length(trim(props)) = 0 THEN 'unknown'
                ELSE coalesce(json_extract_string(props, '$.k'), 'unknown') END AS k_str,
           coalesce(value, 0.0) AS value_safe
    FROM events
    """,
    tier="A",
    doc="Null/type guard with typed fallback ≙ the classifier's "
    "('unknown', 0.0) fallback rows (news_categorization_streaming.py:69-81) "
    "as native when/otherwise — no Python in the hot path.",
)
def q_filter_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(
            F.col("props").isNull() | (F.length(F.trim(F.col("props"))) == 0), F.lit("unknown")
        )
        .otherwise(F.coalesce(F.get_json_object("props", "$.k"), F.lit("unknown")))
        .alias("k_str"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_safe"),
    )


@register(
    "q_project_compute",
    oracle="SELECT doc_id, '- ' || left(text, 40) AS bullet FROM documents WHERE text <> ''",
    tier="A",
    doc="Computed column ≙ withColumn('summary', concat(lit('- '), col)) "
    "(news_summarization_batch.py:102-104).",
)
def q_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text") != "").select(
        "doc_id", F.concat(F.lit("- "), F.substring("text", 1, 40)).alias("bullet")
    )


@register(
    "q_offset_skip",
    oracle="""
    -- NULLS FIRST pins cross-engine placement of null keys (Spark ASC
    -- defaults NULLS FIRST, DuckDB NULLS LAST); o_totalprice breaks
    -- ties among null keys — remaining ties agree on BOTH projected
    -- columns, so any tie-straddling page cut yields the same multiset
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey NULLS FIRST, o_totalprice NULLS FIRST
    OFFSET 10 LIMIT 20
    """,
    tier="A",
    doc="Offset skip ≙ the dataset reader's `if i < index: continue` "
    "(raw_news_to_telegram.py:55-57) — ordered offset+limit; deterministic "
    "because the sort key is unique when non-null, and null keys are "
    "pinned NULLS FIRST with a projected-column tiebreaker.",
)
def q_offset_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(
            F.col("o_orderkey").asc_nulls_first(),
            F.col("o_totalprice").asc_nulls_first(),
        )
        .select("o_orderkey", "o_totalprice")
        .offset(10)
        .limit(20)
    )


@register(
    "q_field_defaults",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, ''), 'Unknown') AS segment,
           CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS acctbal_floor
    FROM customer
    """,
    tier="A",
    doc="Field extraction with defaults ≙ .get('headline','') / authors or "
    "'Unknown' (raw_news_to_telegram.py:58-64) via coalesce/nullif/CASE.",
)
def q_field_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("")), F.lit("Unknown")).alias("segment"),
        F.when(F.col("c_acctbal") < 0, F.lit(0.0)).otherwise(F.col("c_acctbal")).alias("acctbal_floor"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins (absent in reference — engine surface)
# ---------------------------------------------------------------------------


@register(
    "q_join_inner_equi",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS order_cnt, {o_dsum('o_totalprice')} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tier="B",
    doc="Equi inner join + agg. customer is small relative to orders at any "
    "SF but still scales linearly with SF (a ~2 TB frame at the 100-TB "
    "design point — far past the 8 GB broadcast hard limit), so NO pinned "
    "broadcast hint: Catalyst statistics/AQE broadcast it while it fits "
    "and flip to a shuffle join when it doesn't. No shuffle of the orders "
    "side at any SF where customer is broadcastable.",
)
def q_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("order_cnt"), dsum("o_totalprice").alias("total_price"))
    )


@register(
    "q_join_broadcast",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS li_cnt, {o_dsum('l_quantity')} AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size < 15
    GROUP BY p_brand
    """,
    tier="B",
    doc="Broadcast hash join — demonstrated via the SIZE-GATED hint "
    "(functions/scale.py broadcast_if_small): the hint ships the "
    "p_size-filtered part dimension to every executor so the lineitem "
    "side is never shuffled, but only after measuring the frame's "
    "on-disk footprint, because an unconditional F.broadcast() is "
    "honored regardless of size and part scales with SF (a pinned hint "
    "dies on the 8 GB broadcast limit at 100 TB). Over the gate, the "
    "frame is returned un-hinted and AQE decides from runtime stats. "
    "The p_size filter applies before the broadcast (prune then ship).",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO fan_out on the fact side (r15, measured): one broadcast probe
    # + count/dsum is cheap map work; the extra serial shuffle write
    # loses (interleaved A/B: 1.11 s vs 3.24 s at sf1).
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") < 15)
    return (
        li.join(broadcast_if_small(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("li_cnt"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tier="B",
    doc="Left outer join preserving customers with zero orders "
    "(count(o_orderkey) ignores the null-extended rows).",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 50000)
    """,
    tier="B",
    doc="Left semi join (EXISTS): customers having a big order. Semi join "
    "only needs the key set of the right side — Spark broadcasts the "
    "deduplicated keys, no row multiplication.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 50000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
    -- NOT EXISTS, deliberately not NOT IN: DataFrame left_anti has
    -- NOT-EXISTS semantics (a null key on either side simply never
    -- matches, so null-key customers survive), whereas SQL NOT IN
    -- returns ZERO rows the moment the subquery contains one NULL
    -- o_custkey (three-valued logic) — the null-key fixture
    -- (/tmp/skew5) caught exactly that divergence.
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tier="B",
    doc="Left anti join (NOT EXISTS): customers with no orders at all. "
    "The oracle is expressed as NOT EXISTS, not NOT IN — left_anti "
    "matches the former; NOT IN is vacuously empty once the subquery "
    "holds a NULL key.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_theta_range",
    oracle="""
    SELECT s_suppkey, COUNT(*) AS parts_in_band
    FROM supplier JOIN part
      ON p_retailprice >= s_acctbal AND p_retailprice < s_acctbal + 500.0
    GROUP BY s_suppkey
    """,
    tier="B",
    doc="Non-equi theta/range join, executed as a BANDED EQUI-JOIN: each "
    "part carries its price band floor(p_retailprice/100), each supplier "
    "explodes to the six bands its [s_acctbal, s_acctbal+500) window can "
    "touch, and the engines hash-join on band equality before applying "
    "the exact range residual. Every matching pair shares exactly one "
    "band (the part's), so no dedup is needed. This replaces the naive "
    "broadcast-nested-loop plan — O(|part|·|supp|) comparisons with a "
    "pinned broadcast of the SF-scaling supplier side — with a shuffle "
    "hash/sort-merge join whose work is proportional to the true match "
    "volume: the 100-TB shape (same banding as operators/asof.py).",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Band width 100 ⇒ a 500-wide window spans at most 6 bands; the
    # residual predicate restores exact semantics after the equi-join.
    band_w = F.lit(100.0)
    supp = load_table(spark, sf_dir, "supplier").withColumn(
        "_band",
        F.explode(
            F.sequence(
                F.floor(F.col("s_acctbal") / band_w),
                F.floor((F.col("s_acctbal") + 500.0) / band_w),
            )
        ),
    )
    part = load_table(spark, sf_dir, "part").withColumn(
        "_band", F.floor(F.col("p_retailprice") / band_w)
    )
    cond = (
        (part["_band"] == supp["_band"])
        & (part.p_retailprice >= supp.s_acctbal)
        & (part.p_retailprice < supp.s_acctbal + 500.0)
    )
    return (
        part.join(supp, cond)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("parts_in_band"))
    )


@register(
    "q_join_multiway",
    oracle=f"""
    SELECT r_name, COUNT(*) AS order_cnt, {o_dsum('o_totalprice')} AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name
    """,
    tier="B",
    doc="3+-table join chain region⋈nation⋈customer⋈orders. Join order and "
    "broadcast choice left to Catalyst/AQE; region+nation are tiny and "
    "collapse into broadcast stages.",
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    # NO fan_out on the fact side (r15, measured): the map work is a
    # broadcast-probe chain + one dsum — cheap; the extra serial
    # shuffle write loses (interleaved A/B: 1.45 s vs 2.77 s at sf1).
    orders = load_table(spark, sf_dir, "orders")
    return (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(cust, cust.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("order_cnt"), dsum("o_totalprice").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@register(
    "q_group_collect",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           string_agg(left(text, 25), chr(10) ORDER BY left(text, 25)) AS digest
    FROM documents WHERE text <> ''
    GROUP BY lang
    """,
    tier="A",
    doc="THE reference flagship aggregate: per-category digest "
    "groupBy('category').agg(concat_ws('\\n', collect_list('summary'))) "
    "(news_summarization_batch.py:105-107) — made deterministic by sorting "
    "the list before joining (collect_list order is shuffle-dependent). "
    "Scale note: the per-category digest CELL is unbounded by the "
    "reference's own semantics (one string per category spanning every "
    "member) — this tier-A literal preserves that contract; the "
    "scale-safe variant is q_pipeline_digest, which windows the digest "
    "to DIGEST_MAX_ITEMS per category before aggregating.",
)
def q_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text") != "")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(F.array_sort(F.collect_list(F.substring("text", 1, 25))), "\n").alias(
                "digest"
            ),
        )
    )


@register(
    "q_group_counts",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt, COUNT(DISTINCT o_custkey) AS uniq_cust
    FROM orders GROUP BY o_orderstatus
    """,
    tier="B",
    doc="count / count-distinct. count(*) is partial-aggregated map-side; "
    "count(distinct) expands to a two-phase agg on (status, custkey).",
)
def q_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"), F.countDistinct("o_custkey").alias("uniq_cust")
    )


@register(
    "q_group_stats",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base_price,
           {o_dsum('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
           {o_dsum('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
           {o_dsum('l_quantity')} / COUNT(*) AS avg_qty,
           {o_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tier="B",
    doc="TPC-H Q1-shaped pricing summary: hash agg with map-side partials. "
    "Double sums are decimal-quantized per row (see dsum) so the reduction "
    "is exact and order-independent — required for oracle hash parity and "
    "a good idea at 100 TB anyway (no accumulated float drift).",
)
def q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan_out (guide §2.5): the bench fixtures are single-row-group
    # parquet, so the scan — and with it the whole map-side partial
    # aggregate over every lineitem row — is ONE task. Hash-repartition
    # on the high-cardinality l_orderkey (no sortBeforeRepartition tax,
    # unlike round-robin) spreads the partials across all cores;
    # cluster-width scans make this a no-op. Measured: sf1 6.19->2.67 s,
    # sf0.1 0.92->0.81 s, oracle-MATCH (dsum is order-independent by
    # construction).
    li = fan_out(load_table(spark, sf_dir, "lineitem"), by=("l_orderkey",))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_group_approx",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_rsd_bound
    FROM events GROUP BY event_type
    """,
    tier="B",
    doc="approx_count_distinct (HyperLogLog++): the 100-TB-scale cardinality "
    "operator — fixed-size sketch, map-side mergeable, no shuffle of raw "
    "values. Sketch estimates are engine-specific, so the raw estimate "
    "can't be value-hashed across engines; instead this is a SEMI-ORACLE: "
    "the plan computes the sketch estimate AND the exact distinct count, "
    "and emits |approx − exact| ≤ 2.5σ (rsd 0.02 → 5%) as a boolean the "
    "oracle pins to TRUE — the driver's hash now FAILS if the sketch "
    "drifts out of its own error contract (was rows-only before round 7). "
    "The exact side exists for verification only; production reads the "
    "estimate (select the _approx aggregate alone).",
)
def q_group_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.lit(0.05) * F.col("exact_users")
            ).alias("within_rsd_bound"),
        )
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt, {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    -- engine empty-input contract (see q_rollup): no () total row on
    -- empty input; no-op on non-empty data
    HAVING COUNT(*) > 0
    """,
    tier="B",
    doc="ROLLUP hierarchy (status, priority) → (status) → (); Spark expands "
    "grouping sets into a single shuffle with a grouping-id column.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice").alias("total")
    )


@register(
    "q_agg_filtered",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           CAST(count_if(value > 100.0) AS BIGINT) AS n_big,
           CASE WHEN {_O_PURCHASE_POISONED} THEN NULL
                ELSE {o_dec_to_double(_O_PURCHASE_CENTS, 2)} END AS purchase_value
    FROM events GROUP BY user_id
    """,
    tier="A",
    doc="Conditional aggregation ≙ the reference's implicit unknown-category "
    "counting (news_categorization_streaming.py:77-81) as sum(CASE)/count_if. "
    "purchase_value is quantized to cents in the DECIMAL domain before the "
    "final cast to double (identical on both engines). n_big is CAST to "
    "BIGINT because DuckDB's count_if returns HUGEINT, which the driver's "
    "pandas fetch renders as float64 ('2014.0' vs Spark's '2014') — the "
    "actual root cause of the r01/r02 red hashes on this query.",
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchase = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("long").alias("n_errors"),
        F.count_if(F.col("value") > 100.0).alias("n_big"),
        # poison -> NULL: a non-finite purchase value NULLs the user's
        # exact total on both engines (dsum_fin contract; /tmp/skew7)
        F.when(
            ~F.max(F.coalesce(nonfinite(purchase), F.lit(False))),
            dec_to_double(
                F.sum(purchase.cast("decimal(30,6)")).cast("decimal(30,2)"), 2
            ),
        ).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------


@register(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
    tier="B",
    doc="Ranking window: latest 3 orders per customer. Tie-broken on the "
    "unique key so row_number is deterministic. One shuffle on o_custkey.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
    FROM events
    """,
    tier="B",
    doc="Analytic lag over a per-user event timeline (ordered by ts with "
    "unique tiebreak).",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", "user_id", "value", F.lag("value").over(w).alias("prev_value"))


@register(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
    FROM events
    """,
    tier="B",
    doc="Sliding frame aggregate: 3-event moving average per user. Frame of "
    "≤3 doubles → summation order fixed by the frame, round(6) absorbs ulp.",
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("moving_avg")
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem) WHERE rn <= 2
    """,
    tier="B",
    doc="Top-k per group (2 priciest lineitems per order) via ranked window "
    "+ filter; Spark prunes with WindowGroupLimit (rank pushdown) so the "
    "sort per group stops at k.",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan_out on the window's own partition key (guide §2.5/§2.4):
    # single-row-group bench fixtures make the scan 1 task, so the
    # pre-exchange Sort+WindowGroupLimit(Partial) — over every lineitem
    # row — ran single-core. Hash-repartitioning by l_orderkey both
    # parallelizes that sort AND satisfies the window's required
    # distribution, so the plan still has exactly ONE exchange; on
    # cluster-width scans fan_out is a no-op and the partial
    # WindowGroupLimit (which halves shuffle rows) is preserved.
    # Measured: sf1 7.63->2.51 s, sf0.1 0.69->0.48 s, oracle-MATCH
    # (row_number tie-break l_linenumber is a total order per group).
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_extendedprice"
        ),
        by=("l_orderkey",),
    )
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register(
    "q_group_quantiles",
    oracle="""
    WITH fin AS (SELECT event_type,
                        CASE WHEN isfinite(value) THEN value END AS value
                 FROM events)
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM fin GROUP BY event_type
    """,
    tier="B",
    doc="Exact grouped quantiles (p50/p90/p99, linear interpolation) — the "
    "latency-percentile workhorse. Exact percentile sorts each group's "
    "values (fine at per-group cardinality); at corpus scale switch the "
    "same query to approx_percentile (t-digest sketch, mergeable "
    "map-side, engine-specific values → semi-oracle bound check like "
    "q_quantile_sketch). round(4) absorbs interpolation-order ulp. "
    "Non-finite inputs are EXCLUDED on both engines (the metric column "
    "can carry NaN/±Inf in production — a sensor division, an "
    "overflow — and the engines disagree on where NaN sorts: Spark "
    "places it above +Inf, DuckDB interpolates it away; a percentile "
    "over non-finite data is ill-defined, so the operator pins "
    "quantiles-of-the-finite-subset — the /tmp/skew7 finding).",
)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fin = F.when(
        ~F.isnan(F.col("value")) & (F.abs(F.col("value")) != float("inf")),
        F.col("value"),
    )
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(fin, F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(fin, F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile(fin, F.lit(0.99)), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits
# ---------------------------------------------------------------------------


@register(
    "q_sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tier="B",
    doc="Global top-k: Spark plans TakeOrderedAndProject — per-partition "
    "k-heap then driver merge of k rows; no global sort even at 100 TB.",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@register(
    "q_set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    tier="B",
    doc="UNION DISTINCT of customer and supplier nation keys.",
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionByName(supp).distinct()


@register(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tier="B",
    doc="INTERSECT (distinct) — nations having both customers and suppliers.",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@register(
    "q_set_except",
    oracle="""
    SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity > 25
    EXCEPT ALL
    SELECT l_returnflag FROM lineitem WHERE l_quantity > 40
    """,
    tier="B",
    doc="EXCEPT ALL (multiset difference) — bag semantics preserved.",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 25).select(F.col("l_returnflag").alias("flag"))
    b = li.where(F.col("l_quantity") > 40).select(F.col("l_returnflag").alias("flag"))
    return a.exceptAll(b)


@register(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, COUNT(*) AS dup_cnt, md5(text) AS text_hash
    FROM documents GROUP BY text
    """,
    tier="C",
    doc="Exact dedup: canonical-representative pick (min doc_id per text) + "
    "duplicate count. At 100 TB group on sha2/md5 of the text, not the text "
    "itself, so the shuffle carries 16-byte keys instead of documents.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_cnt"))
        .select("doc_id", "dup_cnt", "text_hash")
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT event_id, user_id,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM events
    -- NULLS FIRST, explicitly: Spark's ASC default is NULLS FIRST,
    -- DuckDB's is NULLS LAST — with nullable `value` the rank
    -- functions silently diverge (/tmp/skew4). Null purchases rank
    -- lowest ("no value" < every value); the Spark side states the
    -- same ordering explicitly.
    WINDOW w AS (PARTITION BY user_id ORDER BY value NULLS FIRST, event_id)
    """,
    tier="B",
    doc="Distribution window functions — ntile/percent_rank/cume_dist per "
    "user over purchase value. The ORDER BY carries event_id as a total-"
    "order tie-break, making every rank deterministic; percent_rank and "
    "cume_dist are exact small-integer ratios, identical in both engines.",
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    # asc_nulls_first == Spark's ASC default, stated explicitly so the
    # cross-engine null placement is a contract, not a coincidence
    # (DuckDB defaults NULLS LAST — the oracle pins NULLS FIRST).
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").asc_nulls_first(), "event_id"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q_join_full_outer",
    oracle="""
    WITH a AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 8000),
    b AS (SELECT o_custkey, COUNT(*) AS n_big_orders
          FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey)
    SELECT COALESCE(a.c_custkey, b.o_custkey) AS custkey,
           a.c_acctbal AS acctbal,
           b.n_big_orders
    FROM a FULL OUTER JOIN b ON a.c_custkey = b.o_custkey
    """,
    tier="B",
    doc="Full outer join — the one join type the §2.3 family lacked: "
    "rich customers vs customers with big orders, either side "
    "survivable alone (left-null = big spender below the balance "
    "filter, right-null = rich customer with no big order). Plans as a "
    "sort-merge FullOuter; the COALESCE key keeps the output "
    "single-keyed.",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 8000)
        .select("c_custkey", "c_acctbal")
    )
    big = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 200000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_big_orders"))
    )
    return cust.join(big, cust["c_custkey"] == big["o_custkey"], "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        "n_big_orders",
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt, {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    -- engine empty-input contract: Spark's cube emits no rows on
    -- empty input (standard SQL emits the () total) — no-op filter on
    -- non-empty data, see q_rollup
    HAVING COUNT(*) > 0
    """,
    tier="B",
    doc="CUBE over (status, priority): all four grouping sets — the "
    "OLAP companion to q_grouping_sets's ROLLUP hierarchy. Spark "
    "expands the cube into one shuffle carrying a grouping-id column "
    "(rows replicated per set map-side, partially aggregated before "
    "the exchange); both grouping columns are non-null in the data, so "
    "NULL unambiguously marks the rolled-up level in both engines.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice").alias("total")
    )
