"""Source-surface queries (SURVEY.md §2.1): the permissive JSON corpus
scan — the reference's ONLY real input format — as a registered,
oracle-checked query.

The reference accepts its corpus as a JSON array OR JSON-Lines with
per-line error skip, and tolerates ``authors`` being a scalar string, a
list, or absent (raw_news_to_telegram.py:36-64). ``q_scan_json``
exercises all of it end-to-end: a JSONL fixture (derived
deterministically from the ``documents`` table, one corrupt line
included) plus a JSON-array fixture are read back through
``sources/json_corpus.py`` — auto array-vs-JSONL detection, distributed
DROPMALFORMED skip, union-typed ``authors`` normalization — and the
DuckDB oracle recomputes the same projection straight from ``documents``.

Fixture writing is part of the query on purpose (it IS the source test);
the write is a distributed ``to_json`` projection — rows are JSON-encoded
engine-side (quoting/escaping handled by the engine, never by string
concatenation), no driver collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.exact import o_dec_to_double
from news_categorization_big_data_spark.plans.relational import dsum, dsum_fin, o_dsum_fin
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.json_corpus import (
    normalize_authors,
    read_json_corpus,
    with_expected_columns,
)
from news_categorization_big_data_spark.sources.tables import load_table

#: Scratch root for derived corpus fixtures (tmp — never under the repo).
FIXTURE_ROOT = "/tmp/spark_graft_fixtures"

#: The JSON-array fixture's constant records (doc_id < 0 so they can't
#: collide with derived rows; authors exercise list / scalar / absent).
_ARRAY_FIXTURE = (
    '[{"doc_id": -1, "headline": "const A", "authors": ["x", "y", "z"]},\n'
    ' {"doc_id": -2, "headline": "const B", "authors": "solo"},\n'
    ' {"doc_id": -3, "headline": "const C"}]'
)


def _write_fixtures(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Derive the JSONL + array fixtures for ``sf_dir`` (idempotent
    overwrite; path is keyed by the sf dir name AND the Spark
    application id, so scale factors never cross-contaminate and two
    concurrent sessions — e.g. pytest alongside the driver — never race
    one shared directory between overwrite and scan)."""
    try:
        session_key = spark.sparkContext.applicationId
    except Exception:  # Spark Connect: no sparkContext — fall back to session hash
        session_key = f"s{abs(hash(spark)) % 10**8}"
    base = os.path.join(
        FIXTURE_ROOT,
        "json_corpus",
        session_key,
        os.path.basename(os.path.normpath(sf_dir)),
    )
    jsonl_dir, array_dir = f"{base}/corpus_jsonl", f"{base}/corpus_array"

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    headline = F.substring("text", 1, 40).alias("headline")
    # authors union-typing by doc_id residue: 0 → scalar string,
    # 1 → two-element list, 2 → field absent. Three shapes, three
    # structs — to_json handles all quoting.
    scalar = docs.where(F.col("doc_id") % 3 == 0).select(
        F.to_json(
            F.struct(
                "doc_id",
                headline,
                F.concat(F.lit("author_"), (F.col("doc_id") % 7).cast("string")).alias("authors"),
            )
        ).alias("value")
    )
    listy = docs.where(F.col("doc_id") % 3 == 1).select(
        F.to_json(
            F.struct(
                "doc_id",
                headline,
                F.array(
                    F.concat(F.lit("a"), (F.col("doc_id") % 5).cast("string")),
                    F.concat(F.lit("b"), (F.col("doc_id") % 3).cast("string")),
                ).alias("authors"),
            )
        ).alias("value")
    )
    absent = docs.where(F.col("doc_id") % 3 == 2).select(
        F.to_json(F.struct("doc_id", headline)).alias("value")
    )
    corrupt = spark.createDataFrame([("{this is not json",)], "value string")
    scalar.unionByName(listy).unionByName(absent).unionByName(corrupt).write.mode(
        "overwrite"
    ).text(jsonl_dir)

    spark.createDataFrame([(_ARRAY_FIXTURE,)], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(array_dir)
    return jsonl_dir, array_dir


@register(
    "q_scan_json",
    oracle="""
    SELECT doc_id, left(text, 40) AS headline,
           CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS INT) AS n_authors,
           CASE doc_id % 3
             WHEN 0 THEN 'author_' || CAST(doc_id % 7 AS VARCHAR)
             WHEN 1 THEN 'a' || CAST(doc_id % 5 AS VARCHAR)
             ELSE NULL END AS first_author
    FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'const A', CAST(3 AS INT), 'x'),
                          (CAST(-2 AS BIGINT), 'const B', CAST(1 AS INT), 'solo'),
                          (CAST(-3 AS BIGINT), 'const C', CAST(0 AS INT), NULL))
           t(doc_id, headline, n_authors, first_author)
    """,
    tier="A",
    doc="Permissive JSON corpus scan ≙ raw_news_to_telegram.py:36-64: "
    "JSON-array AND JSON-Lines fixtures (auto-detected from the file "
    "head), one malformed line dropped distributedly (DROPMALFORMED), "
    "and the union-typed authors field (scalar / list / absent) "
    "normalized to array<string>. The oracle recomputes the projection "
    "from the documents table the fixtures were derived from — a "
    "round-trip proof of the reader, the error skip, and the "
    "normalization.",
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    jsonl_dir, array_dir = _write_fixtures(spark, sf_dir)
    parts = [
        # with_expected_columns: a shard with zero parseable records
        # infers no schema — degrade to typed NULL columns, don't fail
        # analysis (the /tmp/skew6 empty-input finding)
        normalize_authors(
            with_expected_columns(
                read_json_corpus(spark, d),
                {"doc_id": "bigint", "headline": "string"},
            )
        ).select("doc_id", "headline", "authors")
        for d in (jsonl_dir, array_dir)
    ]
    merged = parts[0].unionByName(parts[1])
    return merged.select(
        "doc_id",
        "headline",
        F.size("authors").cast("int").alias("n_authors"),
        F.try_element_at("authors", F.lit(1)).alias("first_author"),
    )


@register(
    "q_scan_csv",
    oracle="""
    SELECT doc_id, lang, n_chars, left(text, 40) AS headline
    FROM documents WHERE doc_id < 300 AND text <> ''
    """,
    tier="B",
    doc="Permissive CSV scan, completing the source matrix (parquet / "
    "JSON / CSV): a CSV fixture derived from the documents table with "
    "one malformed line injected, read back through spark.read.csv "
    "with an explicit schema and mode=DROPMALFORMED — the bad row is "
    "dropped distributedly, never raising on an executor. The oracle "
    "recomputes the projection from the source table: a round-trip "
    "proof of writer, reader, schema enforcement, and error skip. "
    "(Empty-text docs are excluded: the CSV reader maps empty fields "
    "to NULL, a lossy corner the fixture sidesteps by construction.)",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        session_key = spark.sparkContext.applicationId
    except Exception:
        session_key = f"s{abs(hash(spark)) % 10**8}"
    csv_dir = os.path.join(
        FIXTURE_ROOT,
        "csv_corpus",
        session_key,
        os.path.basename(os.path.normpath(sf_dir)),
    )
    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 300) & (F.col("text") != "")
    )
    # Word-soup text is comma/quote-free by construction, so the CSV
    # lines are plain joins; the READER (schema + DROPMALFORMED) is the
    # surface under test.
    # Per-field coalesce to '': concat_ws silently SKIPS null fields,
    # which collapses a 4-column row to 3 columns and gets it
    # DROPMALFORMED'd at read — structure must survive nullable
    # fields; the CSV reader maps the empty field back to NULL for
    # strings and longs alike (the skew4 full-sweep find).
    lines = docs.select(
        F.concat_ws(
            ",",
            F.coalesce(F.col("doc_id").cast("string"), F.lit("")),
            F.coalesce(F.col("lang"), F.lit("")),
            F.coalesce(F.col("n_chars").cast("string"), F.lit("")),
            F.coalesce(F.substring("text", 1, 40), F.lit("")),
        ).alias("value")
    )
    corrupt = spark.createDataFrame([("oops,notanumber",)], "value string")
    lines.unionByName(corrupt).write.mode("overwrite").text(csv_dir)
    return (
        spark.read.schema("doc_id long, lang string, n_chars long, headline string")
        .option("mode", "DROPMALFORMED")
        .csv(csv_dir)
    )


def _fixture_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Per-(session, sf) scratch dir — same keying as the CSV fixture."""
    try:
        session_key = spark.sparkContext.applicationId
    except Exception:  # Spark Connect
        session_key = f"s{abs(hash(spark)) % 10**8}"
    return os.path.join(
        FIXTURE_ROOT, kind, session_key, os.path.basename(os.path.normpath(sf_dir))
    )


@register(
    "q_scan_orc",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id < 400 GROUP BY lang
    """,
    tier="B",
    doc="ORC round-trip, completing the columnar-format matrix (parquet "
    "/ ORC — both built into Spark SQL): a slice of documents is "
    "written as ORC and read back through spark.read.orc, then "
    "aggregated; the oracle recomputes from the parquet source, so a "
    "write-side or read-side corruption anywhere in the round-trip "
    "breaks the hash. ORC carries the same pushdown/pruning contract "
    "as parquet (predicate + column indexes); the write is a "
    "distributed projection, no driver collect.",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orc_dir = _fixture_dir(spark, sf_dir, "orc_corpus")
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 400)
        .select("doc_id", "lang", "n_chars")
    )
    docs.write.mode("overwrite").orc(orc_dir)
    return (
        spark.read.orc(orc_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


@register(
    "q_scan_partitioned",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs
    FROM documents WHERE lang IN ('en', 'de')
    GROUP BY lang, source
    """,
    tier="B",
    doc="Hive-style partitioned layout + partition pruning: documents "
    "written partitionBy(lang) and read back with a lang predicate — "
    "the scan must prune to the two matching partition directories "
    "BEFORE reading any data file (PartitionFilters in the plan, "
    "asserted in tests/test_sources_layout.py). This is the at-rest "
    "layout contract for the 100-TB store: partition keys eliminate "
    "I/O in O(partitions), not O(rows); the oracle recomputes from the "
    "unpartitioned source.",
)
def q_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    part_dir = _fixture_dir(spark, sf_dir, "partitioned_docs")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(part_dir)
    return (
        # the writer's schema rides the round-trip: an empty write
        # leaves no part files to infer from (only _SUCCESS), and the
        # read must still produce the typed empty frame
        spark.read.schema(docs.schema).parquet(part_dir)
        .where(F.col("lang").isin("en", "de"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "q_scan_pyds",
    oracle="""
    SELECT CAST(i % 8 AS INT) AS shard,
           COUNT(*) AS n,
           CAST(SUM((i * 1103515245 + 12345) % 2147483648) AS BIGINT) AS sum_h,
           MIN(i) AS min_id, MAX(i) AS max_id
    FROM generate_series(0, 9999) t(i)
    GROUP BY shard
    """,
    tier="B",
    doc="Custom connector via Spark 4's Python Data Source API "
    "(sources/docgen.py): schema declaration, one InputPartition per "
    "shard (the scan parallelizes with no driver materialization), and "
    "pushFilters shard pruning. The generator is a pure function of "
    "the row id (LCG step in BIGINT-safe range), so DuckDB's "
    "generate_series reproduces it exactly — the oracle proves the "
    "whole connector path: registration, planning, per-partition "
    "iteration, type mapping.",
)
def q_scan_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.session import tune_session
    from news_categorization_big_data_spark.sources.docgen import DocGenDataSource

    # Unlike every other query, this one never touches load_table, so
    # it must self-tune the (possibly vanilla, driver-provided) session
    # itself — pushFilters readers fail analysis without the conf.
    tune_session(spark)
    # registration is idempotent (same name → replace)
    spark.dataSource.register(DocGenDataSource)
    src = (
        spark.read.format("docgen")
        .option("rows", 10000)
        .option("shards", 8)
        .load()
    )
    return src.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.sum("h").alias("sum_h"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@register(
    "q_scan_zorder",
    oracle=f"""
    SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS n_events,
           {o_dec_to_double("SUM(CAST(value AS DECIMAL(18,2)))", 2)} AS sum_value
    FROM events
    WHERE user_id BETWEEN 100 AND 160
      -- CASE-wrapped isfinite mirror of the engine's NULL-bucket guard:
      -- SQL does not guarantee conjunct short-circuit order, so the
      -- int cast must be unreachable for non-finite rows
      AND CASE WHEN isfinite(value)
               THEN CAST(floor(value) AS INT) BETWEEN 100 AND 240
               ELSE FALSE END
    GROUP BY 1
    """,
    tier="B",
    doc="Z-order (Morton) layout round-trip: events rewritten along the "
    "(user_id, floor(value)) Z-curve in aligned power-of-two curve "
    "segments (functions/scale.py:zorder_write), then read back with a "
    "2-D box predicate and aggregated. Each file's parquet min/max "
    "stats cover a bounded box in BOTH columns, so the box predicate "
    "prunes files on both dimensions — a single-column sort prunes one "
    "and none of the other (per-file stats asserted in "
    "tests/test_scale_layout.py). The oracle recomputes from the raw "
    "table, proving the curve only reorders rows. This is the "
    "`OPTIMIZE ZORDER BY` layout step for 100-TB stores with "
    "multi-dimensional filter workloads.",
)
def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.scale import zorder_write

    z_dir = _fixture_dir(spark, sf_dir, "zorder_events")
    # finite guard on the curve coordinate: floor(NaN) is Long.MIN in
    # Spark (an ANSI overflow on the int cast) and an error in DuckDB —
    # a non-finite metric has no position on the curve, so it gets a
    # NULL bucket (lands in the null partition, excluded by the box
    # predicate on both engines; the /tmp/skew7 finding).
    val = F.col("value")
    finite = ~F.isnan(val) & (F.abs(val) != float("inf"))
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.when(finite, F.floor(val)).cast("int").alias("vb")
    )
    zorder_write(ev, z_dir, "user_id", "vb", bits=10, files=8)
    # writer schema + the _zseg partition column: empty input writes
    # no data files, so the read-back cannot rely on inference
    z_schema = ev.schema.add("_zseg", "long")
    return (
        spark.read.schema(z_schema).parquet(z_dir)
        .where(F.col("user_id").between(100, 160) & F.col("vb").between(100, 240))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value").cast("decimal(18,2)"), 2).alias(
                "sum_value"
            ),
        )
    )


@register(
    "q_sink_partitioned_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           -- poison -> NULL exact sum (o_dsum_fin contract; /tmp/skew7)
           {o_dsum_fin('value')} AS total_value
    FROM events GROUP BY event_type
    """,
    tier="B",
    doc="Hive-partitioned parquet SINK round-trip: events written with "
    "write.partitionBy(event_type) — one directory per partition "
    "value, the layout every downstream reader partition-prunes on — "
    "then read back through the partition-discovering reader and "
    "aggregated. The oracle aggregates the ORIGINAL table, so the "
    "green hash proves the sink wrote every row exactly once and the "
    "partition column round-trips losslessly through the directory "
    "encoding (q_scan_partitioned proves the read/prune side; this "
    "proves the write side). Scale posture: partitionBy keys a "
    "task-side dynamic-partition write — at 100 TB you bound "
    "files-per-partition with a pre-write repartition on the "
    "partition column (documented, not needed at test scale) and "
    "pick LOW-cardinality columns only (5 types here; a high-card "
    "key would fan out into millions of directories).",
)
def q_sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink_dir = _fixture_dir(spark, sf_dir, "sink_roundtrip")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(sink_dir)
    return (
        # writer schema rides the round-trip (empty-write safe)
        spark.read.schema(ev.schema).parquet(sink_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum_fin("value", 6).alias("total_value"),
        )
    )


@register(
    "q_scan_evolved",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id < 250 THEN 0
                         ELSE COALESCE(n_chars, 0) END) AS BIGINT)
             AS sum_chars_v2,
           CAST(COUNT(CASE WHEN doc_id < 250 THEN 1 END) AS BIGINT) AS n_v1
    FROM documents WHERE doc_id < 500
    GROUP BY lang
    """,
    tier="B",
    doc="Schema evolution round-trip (the lakehouse ADD COLUMN "
    "contract): batch v1 of the corpus is written WITHOUT the n_chars "
    "column, batch v2 adds it; the read unifies both generations via "
    "mergeSchema, v1 rows surface the added column as NULL, and the "
    "aggregate applies the default (0) explicitly — the exact life "
    "cycle of every evolving 100-TB table, where old files are never "
    "rewritten for a new column. The oracle recomputes from the "
    "unevolved source with the same generation split, so a dropped "
    "row, a misaligned column, or a default leaking into v2 rows all "
    "break the hash. Schema merge cost is per-FILE footer metadata — "
    "no data rewrite; at catalog scale the merged schema comes from "
    "the table format's metadata instead of file-footer union, same "
    "read semantics.",
)
def q_scan_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    evo_dir = _fixture_dir(spark, sf_dir, "evolved_docs")
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    # Generation 1: schema (doc_id, lang). Generation 2 adds n_chars.
    docs.where(F.col("doc_id") < 250).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(evo_dir, "g=1"))
    docs.where(F.col("doc_id") >= 250).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(os.path.join(evo_dir, "g=2"))
    # basePath surfaces the g=1/g=2 GENERATION partition column: v1
    # membership is a fact of the file layout, not of a value being
    # NULL — a v2 row whose n_chars is genuinely NULL (the skew4
    # fixture) must not be miscounted as v1 (first-full-sweep find).
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", evo_dir)
        .parquet(os.path.join(evo_dir, "g=1"), os.path.join(evo_dir, "g=2"))
    )
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("sum_chars_v2"),
        F.count(F.when(F.col("g") == 1, 1)).alias("n_v1"),
    )


@register(
    "q_sink_pyds_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id < 400
    GROUP BY lang
    """,
    tier="B",
    doc="Custom Python Data Source SINK round-trip (sources/"
    "jsonl_sink.py): a slice of documents is written through "
    "df.write.format('jsonlsink') — tasks stage part files, the "
    "driver's commit publishes them atomically behind a _SUCCESS "
    "manifest — then read back through the manifest-honoring reader "
    "and aggregated. The oracle aggregates the ORIGINAL table, so "
    "the green hash proves the transactional write path delivered "
    "every row exactly once (the write side of the custom-source "
    "story; q_scan_pyds proves the read side). Replayed commits "
    "publish nothing (manifest guard), so re-running this query in "
    "one session stays deterministic. Scale: commit messages carry "
    "file NAMES, never rows — the driver cost is O(tasks), the "
    "FileOutputCommitter-v1 shape.",
)
def q_sink_pyds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.sources.jsonl_sink import (
        JsonlSinkDataSource,
        read_committed,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    sink_dir = _fixture_dir(spark, sf_dir, "pyds_sink")
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    docs.select("doc_id", "lang", "n_chars").write.format("jsonlsink").option(
        "path", sink_dir
    ).mode("append").save()
    return (
        # explicit schema: a zero-row commit (empty shard) must read
        # back as an empty TYPED frame, not an inference failure
        read_committed(spark, sink_dir, schema="doc_id bigint, lang string, n_chars bigint")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).cast("long").alias("sum_chars"),
        )
    )


@register(
    "q_scan_xml",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    """,
    tier="B",
    doc="XML source round-trip (Spark 4's built-in spark-xml): the "
    "nation dimension written as <row> elements, read back with an "
    "EXPLICIT schema (rowTag + schema — inference is a full extra "
    "pass at 100 TB and is always off in production ingest), and "
    "compared against the original table, proving element values "
    "round-trip losslessly through XML escaping. Columns chosen are "
    "whitespace-free by construction because the reader's "
    "ignoreSurroundingSpaces default trims padded values — the "
    "documented sharp edge of XML ingest, asserted in "
    "tests/test_sources_layout-style coverage rather than hidden. "
    "Scale posture: XML is a line-unsplittable verbose format — the "
    "right 100-TB role is one-time INGEST into parquet (this query's "
    "exact shape), never a hot-path scan format.",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml_dir = _fixture_dir(spark, sf_dir, "xml_nation")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nat.write.format("xml").option("rowTag", "row").mode("overwrite").save(xml_dir)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(xml_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
    )
