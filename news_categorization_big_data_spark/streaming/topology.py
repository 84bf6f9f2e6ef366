"""The reference's streaming topology rebuilt idiomatically
(SURVEY.md §2.9, §2.11, §7 Phase 5).

Reference dataflow (news_categorization_streaming.py):
``Kafka → CAST(value AS STRING) → mapInPandas[classify+Mongo insert] →
console sink, 1s trigger, fresh checkpoint dir per run``.

Fixed here:
- **one shared payload schema** for writer and reader (quirk §2.11.1 —
  the reference's producer wrote {content, category} but its consumer
  read col1/col2, silently dropping every message);
- **stable checkpoints** (quirk §2.11.3 — the reference embedded
  a wall-clock timestamp in the checkpoint dir, resetting offsets every
  restart);
- **no side effects inside UDFs** (quirk §2.11.4 — the reference did a
  Mongo insert per row inside the streaming UDF; retries duplicated
  rows). Sinks are ``foreachBatch`` with batch-id-keyed idempotent
  writes;
- **event-time windows + watermarks** (absent in the reference) come
  from the same ``window()``/``session_window()`` calls proven against
  the DuckDB oracle in plans/timeseries.py — batch/stream parity is the
  test (tests/test_streaming.py).

The Kafka entry point keeps the reference's exact source API; tests use
file sources, which exercise identical logical plans.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Shared producer/consumer payload schema (one vocabulary, one schema).
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("content", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)


def read_message_stream(
    spark: SparkSession,
    source: str = "kafka",
    kafka_servers: str = "localhost:9092",
    topic: str = "general-news-2",
    path: str | None = None,
) -> DataFrame:
    """Streaming source with the reference's Kafka options
    (news_categorization_streaming.py:45-51) or a file-source stand-in
    delivering the same ``value: string`` shape for tests."""
    if source == "kafka":
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_servers)
            .option("subscribe", topic)
            .option("startingOffsets", "latest")
            .option("failOnDataLoss", "false")
            .load()
        )
    if source == "json-files":
        return spark.readStream.schema("value string").json(path)
    raise ValueError(f"unknown source {source!r}")


def parse_messages(raw: DataFrame) -> DataFrame:
    """CAST + from_json with the shared schema
    (≙ selectExpr(\"CAST(value AS STRING) as message\"),
    news_categorization_streaming.py:57, plus the schema fix)."""
    return (
        raw.select(F.col("value").cast("string").alias("message"))
        .select(F.from_json("message", MESSAGE_SCHEMA).alias("m"))
        .select("m.content", "m.category", "m.event_ts")
    )


def classify_stream(parsed: DataFrame, categories: list[str]) -> DataFrame:
    """Native pre-validation + typed fallback BEFORE any model stage
    (the reference pays model cost on empty rows — SURVEY.md §4.1).

    A real model plugs in after this projection via mapInPandas
    (operators/classify.py holds the batch-trained MLlib pipeline).
    """
    blank = F.col("content").isNull() | (F.length(F.trim("content")) == 0)
    bad_cat = F.col("category").isNull() | ~F.lower("category").isin(*categories)
    return parsed.select(
        "content",
        F.when(blank | bad_cat, F.lit("unknown")).otherwise(F.lower("category")).alias("category"),
        F.when(blank | bad_cat, F.lit(0.0)).otherwise(F.lit(1.0)).alias("confidence"),
        "event_ts",
    )


def classify_stream_model(parsed: DataFrame) -> DataFrame:
    """The MODEL stage on the stream: the engine-native keyword scorer
    (operators/classify.py keyword_score_cols — the bart-large-mnli
    stand-in, README 'Model parity') applied to message CONTENT as a
    map-only projection, keeping the payload columns the downstream
    store needs. Where ``classify_stream`` VALIDATES the payload's
    claimed category (the pre-filter contract), this stage COMPUTES
    the category from the text — the reference's zero-shot inference
    position (news_categorization_streaming.py:59-112). Blank/null
    content falls back to ('unknown', 0.0) inside the scorer, the same
    typed-fallback contract. Pure expressions → identical semantics in
    batch and micro-batch, which is what makes the end-to-end
    stream-vs-batch digest parity test possible."""
    from news_categorization_big_data_spark.operators.classify import (
        keyword_score_cols,
    )

    category, confidence = keyword_score_cols("content")
    return parsed.select(
        "content",
        category.alias("category"),
        confidence.alias("confidence"),
        "event_ts",
    )


#: Output/state schemas of the stateful per-category tracker.
CATEGORY_STATE_OUTPUT = "category string, n_total long, chars_total long"
CATEGORY_STATE_SCHEMA = "n long, chars long"


def _update_category_state(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
    """Module-level (picklable-by-reference) state update function."""
    n, chars = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        chars += int(pdf["content"].fillna("").str.len().sum())
    state.update((n, chars))
    yield pd.DataFrame({"category": [key[0]], "n_total": [n], "chars_total": [chars]})


def track_category_totals(parsed: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    category, cumulative message count + content chars ACROSS
    micro-batches — the arbitrary-state shape Spark's built-in windowed
    aggregations can't express (state here is a running pair, but the
    same hook carries ML feature accumulators, per-entity CEP automata,
    etc.). State is keyed by category → shuffle-partitioned, bounded by
    the category dimension (never corpus-sized); checkpointed with the
    query, so replays restore it exactly. The state-V2
    ``transformWithStateInPandas`` API is not used: its runtime sends
    state over a protobuf channel, so running it needs the
    ``google.protobuf`` package on every executor.
    """
    return parsed.groupBy("category").applyInPandasWithState(
        _update_category_state,
        outputStructType=CATEGORY_STATE_OUTPUT,
        stateStructType=CATEGORY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    key: str = "category",
    left_ts: str = "event_ts",
    right_ts: str = "event_ts",
    within_seconds: int = 600,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on ``key`` within an event-time interval:
    a right event matches a left event iff it lands in
    ``[left_ts, left_ts + within_seconds]``.

    Both sides are watermarked, which is what BOUNDS THE JOIN STATE — the
    state store only retains rows younger than watermark + interval, so
    state size tracks the event rate, not the stream length (the
    unbounded-state trap of an unconstrained stream-stream join). The
    same function works on batch frames (watermarks skipped — they are
    streaming-only), which is how the parity test pins the semantics.

    ``how="left_outer"`` additionally emits unmatched LEFT rows
    (right side NULL) — in streaming these surface only once the
    watermark has passed the row's interval (the engine must be sure no
    future right row can match before declaring the miss), which is
    exactly why the outer variant REQUIRES the event-time bound: an
    unbounded outer stream join could never emit a definitive NULL.

    Output disambiguates the two sides as ``<col>_l`` / ``<col>_r``.
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(
            f"join_streams_interval supports inner/left_outer, got {how!r}"
        )
    # Rename FIRST, then watermark the renamed column: the watermark
    # must be attached to the exact attribute the join consumes, so a
    # later projection can never separate the two.
    l = left.select([F.col(c).alias(f"{c}_l") for c in left.columns])
    r = right.select([F.col(c).alias(f"{c}_r") for c in right.columns])
    if l.isStreaming:
        l = l.withWatermark(f"{left_ts}_l", watermark)
    if r.isStreaming:
        r = r.withWatermark(f"{right_ts}_r", watermark)
    cond = (
        (F.col(f"{key}_l") == F.col(f"{key}_r"))
        & (F.col(f"{right_ts}_r") >= F.col(f"{left_ts}_l"))
        & (
            F.col(f"{right_ts}_r")
            <= F.col(f"{left_ts}_l") + F.expr(f"INTERVAL {within_seconds} SECONDS")
        )
    )
    return l.join(r, cond, "left_outer" if how in ("left_outer", "leftOuter") else "inner")


def serialize_messages(df: DataFrame) -> DataFrame:
    """Rows → Kafka-shaped records: ``value`` = to_json(struct(...)) over
    the SHARED payload schema (≙ news_summarization_batch.py:114-119,
    minus the reference's col1/col2 producer/consumer mismatch — quirk
    §2.11.1: this struct is the one vocabulary both sides use). ``key``
    is the category so a topic partition holds one category's stream in
    order."""
    return df.select(
        F.col("category").cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.col("content").cast("string").alias("content"),
                F.col("category").cast("string").alias("category"),
                F.col("event_ts").cast("timestamp").alias("event_ts"),
            )
        ).alias("value"),
    )


def write_kafka_batch(
    df: DataFrame,
    topic: str = "news-summary",
    kafka_servers: str = "localhost:9092",
    fallback_path: str | None = None,
) -> None:
    """Kafka batch sink ≙ news_summarization_batch.py:121-127: serialize
    to ``value`` strings, write the topic via ``df.write.format("kafka")``
    — the reference's exact sink API.

    ``fallback_path`` (tests / brokerless environments) writes the same
    serialized frame as JSON files instead; the projection — the part
    with engine logic in it — is identical either way.
    """
    out = serialize_messages(df)
    if fallback_path is not None:
        out.write.mode("overwrite").json(fallback_path)
        return
    (
        out.write.format("kafka")
        .option("kafka.bootstrap.servers", kafka_servers)
        .option("topic", topic)
        .save()
    )


def write_console_stream(stream: DataFrame, checkpoint_dir: str, trigger_seconds: int = 1):
    """Console stream sink ≙ news_categorization_streaming.py:114-120
    (append mode, truncate=false, processing-time trigger) with the one
    fix: a STABLE checkpoint dir instead of a fresh timestamped one per
    run (quirk §2.11.3)."""
    return (
        stream.writeStream.format("console")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_routed_fan_out(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    categories: list[str],
    trigger_seconds: int = 1,
):
    """Category-routed delivery ≙ summary_news_to_telegram.py:44-96 (one
    Telegram channel per category) as a foreachBatch sink: each batch is
    validated against the category dimension (unknown → 'unknown' route,
    ≙ the consumer's membership check at :63-71) and lands partitioned
    by route — ``out_dir/route=<category>/batch_id=<id>`` — so each
    route is one directory a per-channel deliverer tails. Idempotent
    under batch replay (batch-id-keyed overwrite), unlike the
    reference's per-row sends."""

    def route_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = batch_df.withColumn(
            "route",
            F.when(
                F.lower("category").isin(*categories), F.lower("category")
            ).otherwise(F.lit("unknown")),
        ).withColumn("batch_id", F.lit(batch_id))
        routed.write.mode("overwrite").partitionBy("route", "batch_id").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(route_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def idempotent_batch_writer(out_dir: str):
    """The per-batch write write_idempotent_parquet installs: each
    micro-batch lands in ``out_dir/batch_id=<id>`` with mode=overwrite,
    so a REPLAYED batch id (sink ran, query died before the checkpoint
    commit — the reference's per-row-insert-inside-a-UDF failure mode,
    quirk §2.11.4) overwrites its own directory instead of appending
    duplicates. Exposed as a named factory so the failure-injection
    test (tests/test_streaming.py) can wrap the REAL sink write with a
    crash and prove the replay path end-to-end."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write_batch


def write_idempotent_parquet(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, trigger_seconds: int = 1
):
    """foreachBatch sink with batch-id-keyed idempotent writes.

    Each micro-batch lands in ``out_dir/batch_id=<id>`` with
    mode=overwrite: a retried batch overwrites its own directory instead
    of appending duplicates — exactly-once output given the stable
    checkpoint (fixes quirks §2.11.3-4). The batch-id partition column
    also gives consumers replay provenance.
    """
    return (
        stream.writeStream.foreachBatch(idempotent_batch_writer(out_dir))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left_outer",
) -> DataFrame:
    """Stream-static enrichment: join a (possibly streaming) fact frame
    against a STATIC dimension — the categories/routing table the
    reference keeps as a Python dict on the driver
    (news_categorization_streaming.py:21-27) becomes a broadcast join
    the executors apply per micro-batch.

    Stream-static joins are STATELESS: each micro-batch joins against
    the dimension as-of that batch (the static side is re-scanned per
    batch, so an updated dimension file takes effect on the next batch
    without restarting the query — the cheap form of slowly-changing
    enrichment). No watermark is needed because no cross-batch state is
    kept; this is the right shape whenever one side is bounded and
    slowly changing, and the 100-TB analogue is a broadcast of the
    dimension to every task. Spark restricts the join types where the
    STREAMING side must be preserved (inner / left_outer with the
    stream on the left are the safe ones) — enforced here.

    The same call works on two batch frames, which is how the parity
    test pins the semantics (tests/test_streaming.py).
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(f"enrich_with_static supports inner/left_outer, got {how!r}")
    return stream.join(
        F.broadcast(dim), on, "left_outer" if how in ("left_outer", "leftOuter") else how
    )
