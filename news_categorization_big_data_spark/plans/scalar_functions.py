"""Scalar function catalog: string / date / math / array / map / json
(SURVEY.md §2.8).

Each query re-expresses one scalar-function family the reference uses in
Python driver code as a native Column expression — JVM-side, inside
whole-stage codegen, no Python in the hot path. Reference citations per
query.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.exact import (
    o_dec_to_double,
    sql_dec_to_double,
)
#: q_sql_udf's house revenue form (hoisted for o_dec_to_double).
_O_UDF_REV = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))"
)

from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table


@register(
    "q_str_concat",
    oracle="""
    SELECT doc_id,
           'Headline: ' || left(text, 20) || ', Lang: ' || lang AS message
    FROM documents
    """,
    tier="A",
    doc="String concat/format ≙ the flattened-message template "
    "f'Headline: {…}, Authors: {…}' (raw_news_to_telegram.py:65-69).",
)
def q_str_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("Headline: "), F.substring("text", 1, 20), F.lit(", Lang: "), F.col("lang")
        ).alias("message"),
    )


@register(
    "q_str_case",
    oracle="SELECT doc_id, lower(source) AS source_lc, upper(lang) AS lang_uc FROM documents",
    tier="A",
    doc="Case mapping ≙ category.lower() routing (summary_news_to_telegram.py:63).",
)
def q_str_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.lower("source").alias("source_lc"), F.upper("lang").alias("lang_uc")
    )


@register(
    "q_str_slice",
    oracle="""
    SELECT doc_id, substring(text, 1, 50) AS head50,
           CAST(length(text) AS BIGINT) AS n_len
    FROM documents
    """,
    tier="A",
    doc="Truncation ≙ content[:5000] (news_summarization_batch.py:65,91-93).",
)
def q_str_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring("text", 1, 50).alias("head50"),
        F.length("text").cast("long").alias("n_len"),
    )


@register(
    "q_str_split_len",
    oracle="""
    SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_words
    FROM documents WHERE text <> ''
    """,
    tier="A",
    doc="Tokenize + word count ≙ len(content.split()) for the max_length "
    "heuristic (news_summarization_batch.py:66).",
)
def q_str_split_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text") != "").select(
        "doc_id", F.size(F.split("text", r"\s+")).alias("n_words")
    )


@register(
    "q_str_trim_empty",
    oracle="""
    SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_trimmed,
           length(trim(text)) = 0 AS is_blank
    FROM documents
    """,
    tier="A",
    doc="Strip/emptiness test ≙ content.strip() guards "
    "(news_summarization_batch.py:61, raw_news_to_telegram.py:47).",
)
def q_str_trim_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.length(F.trim(F.col("text")))
    return docs.select(
        "doc_id", n.cast("long").alias("n_trimmed"), (n == 0).alias("is_blank")
    )


@register(
    "q_date_fmt",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month, COUNT(*) AS cnt
    FROM orders GROUP BY 1
    """,
    tier="A",
    doc="Date formatting ≙ strftime('%Y-%m-%d') footer "
    "(news_summarization_batch.py:109-112); the date is DATA, never wall "
    "clock (fixes quirk SURVEY.md §2.11.5).",
)
def q_date_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month")).agg(
        F.count("*").alias("cnt")
    )


@register(
    "q_json_to",
    oracle="""
    SELECT doc_id,
           to_json(struct_pack(content := left(text, 30), category := lang)) AS payload
    FROM documents
    """,
    tier="A",
    doc="Struct → JSON string ≙ to_json(struct(content, category)) Kafka "
    "payload (news_summarization_batch.py:114-118). Writer and reader share "
    "one schema (fixes quirk §2.11.1, the col1/col2 mismatch).",
)
def q_json_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_json(
            F.struct(F.substring("text", 1, 30).alias("content"), F.col("lang").alias("category")),
            # ignoreNullFields=false: Spark's to_json DROPS null fields
            # by default while DuckDB's to_json keeps "category":null —
            # a NULL lang (the skew4 null fixture) must serialize
            # identically on both engines (the q_multimodal_cols r12
            # fix, applied here by the first FULL skew4 sweep)
            {"ignoreNullFields": "false"},
        ).alias("payload"),
    )


@register(
    "q_json_from",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS cnt
    FROM events GROUP BY 1
    """,
    tier="A",
    doc="JSON string → typed fields ≙ json.loads(message).get(...) "
    "(summary_news_to_telegram.py:62-64) as get_json_object — parsed "
    "JVM-side, per-partition, no driver loop.",
)
def q_json_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.get_json_object("props", "$.k").cast("int").alias("k")).agg(
        F.count("*").alias("cnt")
    )


@register(
    "q_array_join",
    oracle="""
    SELECT doc_id,
           array_to_string(list_sort(regexp_split_to_array(text, '\\s+'))[1:5], ', ') AS first_words
    FROM documents WHERE text <> ''
    """,
    tier="A",
    doc="list → delimited string ≙ ', '.join(authors) "
    "(raw_news_to_telegram.py:62); sorted slice for determinism.",
)
def q_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text") != "").select(
        "doc_id",
        F.array_join(F.slice(F.array_sort(F.split("text", r"\s+")), 1, 5), ", ").alias(
            "first_words"
        ),
    )


@register(
    "q_math_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(least(100, greatest(20, floor(l_extendedprice / l_quantity / 10.0))) AS BIGINT)
             AS clamped
    FROM lineitem
    """,
    tier="A",
    doc="Arithmetic + clamp ≙ min(100, max(20, n//3)) max_length heuristic "
    "(news_summarization_batch.py:67) via least/greatest/floor.",
)
def q_math_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ratio = F.floor(F.col("l_extendedprice") / F.col("l_quantity") / 10.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.lit(100), F.greatest(F.lit(20), ratio)).cast("long").alias("clamped"),
    )


#: Canonical category routing table ≙ channel_map
#: (summary_news_to_telegram.py:20-33) — one vocabulary for producer and
#: consumer (fixes quirk SURVEY.md §2.11.2).
CATEGORY_ROUTES: dict[str, str] = {
    "en": "channel-english",
    "es": "channel-spanish",
    "de": "channel-german",
    "fr": "channel-french",
    "zh": "channel-chinese",
}


@register(
    "q_map_lookup",
    oracle="""
    SELECT doc_id,
           coalesce(CASE lang WHEN 'en' THEN 'channel-english'
                              WHEN 'es' THEN 'channel-spanish'
                              WHEN 'de' THEN 'channel-german'
                              WHEN 'fr' THEN 'channel-french'
                              WHEN 'zh' THEN 'channel-chinese' END,
                    'channel-default') AS route
    FROM documents
    """,
    tier="A",
    doc="Dict-lookup routing ≙ channel_map.get(category) "
    "(summary_news_to_telegram.py:74) as a map-literal lookup; at scale an "
    "equivalent broadcast join against a mapping table.",
)
def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    route_map = F.create_map(*[F.lit(x) for x in chain.from_iterable(CATEGORY_ROUTES.items())])
    return docs.select(
        "doc_id",
        F.coalesce(route_map[F.col("lang")], F.lit("channel-default")).alias("route"),
    )


@register(
    "q_membership",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt FROM events
    WHERE event_type IN ('signup', 'error', 'purchase')
    GROUP BY event_type
    """,
    tier="A",
    doc="Set-membership validation ≙ `category not in self.categories` "
    "(summary_news_to_telegram.py:70) as Column.isin.",
)
def q_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("signup", "error", "purchase"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q_array_hof",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           len(list_filter(embedding, x -> abs(x) > 0.9)) > 0 AS any_big,
           list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS l1_norm
    FROM embeddings
    """,
    tier="B",
    doc="Higher-order array functions over the embedding column — "
    "filter (positive-component count), exists (any |x| > 0.9), and an "
    "aggregate fold (L1 norm) — all JVM-side lambda expressions inside "
    "whole-stage codegen, zero UDFs. The fold's double sum is a "
    "sequential left-fold over the array in BOTH engines (DuckDB "
    "list_sum over list_transform), so it is bit-identical without "
    "decimal quantization.",
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dabs = lambda x: F.abs(x.cast("double"))  # noqa: E731
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.exists("embedding", lambda x: F.abs(x) > 0.9).alias("any_big"),
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + dabs(x)
        ).alias("l1_norm"),
    )


@register(
    "q_variant_json",
    oracle="""
    WITH j AS (SELECT event_id, event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_id,
           event_type AS vtype,
           k AS vk,
           k * 2 AS vk2,
           CAST(NULL AS BIGINT) AS vmissing
    FROM j
    """,
    tier="B",
    doc="Semi-structured VARIANT surface (Spark 4): a nested JSON "
    "payload (object + array, built engine-side from props.k and "
    "event_type with integer-only rendering so both engines byte-agree "
    "on the document) is parse_json'd into a VariantType value, then "
    "typed paths come back out — variant_get for object fields "
    "('$.meta.type'), array indexing ('$.ks[1]'), and try_variant_get "
    "returning NULL on a missing path instead of erroring. Variant "
    "stores shredded binary, so repeated path access never re-parses "
    "text — the at-scale answer to schemaless columns. The oracle "
    "recomputes the expected values directly from the source (a "
    "round-trip proof, like q_scan_json).",
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan_out (guide §2.5): parse_json + 4 variant_gets per row is
    # heavy map work serialized onto the single-row-group bench scan.
    # No-op on cluster-width scans. Measured: sf1 11.2->1.4 s.
    ev = fan_out(load_table(spark, sf_dir, "events"), by=("event_id",))
    k = F.get_json_object("props", "$.k").cast("long")
    # Null-safe JSON rendering: a null k renders as the JSON literal
    # `null`, not as a SQL NULL that nulls the whole concat — with
    # null `props` rows (/tmp/skew4) the un-coalesced form collapsed
    # the entire document, nulling even vtype (the oracle keeps
    # event_type). variant_get of a JSON null returns NULL, so the
    # typed paths agree with the oracle's NULL k arithmetic.
    ks = F.coalesce(k.cast("string"), F.lit("null"))
    k2s = F.coalesce((k * 2).cast("string"), F.lit("null"))
    payload = F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('"},"k":'),
        ks,
        F.lit(',"ks":['),
        ks,
        F.lit(","),
        k2s,
        F.lit("]}"),
    )
    v = F.parse_json(payload)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.meta.type", "string").alias("vtype"),
        F.variant_get(v, "$.k", "long").alias("vk"),
        F.variant_get(v, "$.ks[1]", "long").alias("vk2"),
        F.try_variant_get(v, "$.missing", "long").alias("vmissing"),
    )


@register(
    "q_regex_extract",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
           COALESCE(array_to_string(regexp_extract_all(text, 's[a-z]+'), ','),
                    '') AS s_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]{4,}')) AS INT)
             AS n_long_words,
           regexp_replace(text, '[0-9]+', '#', 'g') AS masked
    FROM documents WHERE text <> ''
    """,
    tier="B",
    doc="Structured regex extraction — the pattern-mining scalar tier a "
    "curation pipeline runs per document (pull identifiers, count "
    "pattern hits, mask digits for dedup-normalization): first capture "
    "group via regexp_extract, ALL matches via regexp_extract_all "
    "(comma-serialized — raw arrays crash the driver's canon), match "
    "counting, and global regexp_replace masking (DuckDB needs the "
    "explicit 'g' flag to match Spark's replace-all default — the "
    "SKILL.md gotcha, load-bearing here). Map-only, whole-stage "
    "codegen, zero shuffle: regex throughput is per-core work that "
    "scales linearly with executors; anchored character classes only, "
    "no catastrophic backtracking.",
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([A-Za-z]+)", 1).alias("first_word"),
        F.array_join(F.regexp_extract_all("text", F.lit(r"s[a-z]+"), 0), ",").alias(
            "s_words"
        ),
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]{4,}"), 0)).alias(
            "n_long_words"
        ),
        F.regexp_replace("text", r"[0-9]+", "#").alias("masked"),
    )


@register(
    "q_date_arith",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS due_date,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(day(last_day(CAST(o_orderdate AS DATE))) AS INT) AS days_in_month,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                AS INT) AS age_days
    FROM orders
    """,
    tier="B",
    doc="Calendar arithmetic catalog (≙ the reference's timestamp "
    "handling, news_summarization_batch.py:118 parameterized "
    "timestamps, generalized): add_months with end-of-month clamping "
    "(Jan 31 + 3 months = Apr 30 in BOTH engines — the clamp "
    "convention is the cross-engine trap this query pins), last_day, "
    "days-in-month, quarter truncation, and day-difference age against "
    "a fixed reference date. Map-only column expressions in "
    "whole-stage codegen; every output is a rendered date string or an "
    "exact integer (the q_date_dim discipline: no DATE-typed outputs, "
    "which render asymmetrically across driver fetch paths). Scale: "
    "zero shuffle — per-core scalar throughput.",
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofmonth(F.last_day(d)).cast("int").alias("days_in_month"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("int").alias("age_days"),
    )


@register(
    "q_sql_udf",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {o_dec_to_double(_O_UDF_REV, 4)}
             AS revenue,
           CAST(SUM(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tier="B",
    doc="SQL scalar UDFs (Spark 4 CREATE FUNCTION ... RETURN — the "
    "catalog-function surface): the discounted-revenue formula and a "
    "bulk-line predicate are DECLARED once as named SQL functions and "
    "used in a grouped aggregate. Unlike a Python UDF, a SQL UDF "
    "INLINES into Catalyst at analysis time — the executed plan has no "
    "Python evaluation node and stays inside whole-stage codegen "
    "(asserted in tests/test_robust_linkage.py), so the abstraction "
    "costs nothing at 100 TB; it is the mechanism for sharing exact "
    "money-math conventions (the plans/tpch.py dprice discipline) "
    "across a team's queries without copy-paste drift. The oracle "
    "inlines the same expressions directly. Determinism: the UDF body "
    "is the house exact-decimal revenue form; counts are integers.",
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan_out (guide §2.5; the q_tpch_q1 finding): the SQL-UDF
    # decimal partial sums over every lineitem row ran on the lone
    # single-row-group scan task. No-op on cluster-width scans.
    # Measured at sf1 (lineitem one 6 M-row row group, 4 vCPUs, min of
    # 4 passes): 22.2 s unwidened -> 9.4 s widened.
    fan_out(load_table(spark, sf_dir, "lineitem"), by=("l_orderkey",)).createOrReplaceTempView("lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DECIMAL(37,4)
        RETURN CAST(p AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2)))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION is_bulk(q DOUBLE)
        RETURNS INT RETURN CASE WHEN q >= 30 THEN 1 ELSE 0 END
        """
    )
    return spark.sql(
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               {sql_dec_to_double("SUM(disc_price(l_extendedprice, l_discount))", 4)}
                 AS revenue,
               CAST(SUM(is_bulk(l_quantity)) AS BIGINT) AS n_bulk
        FROM lineitem
        GROUP BY l_returnflag
        """
    )
