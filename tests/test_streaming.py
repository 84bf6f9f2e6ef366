"""Streaming topology tests (SURVEY.md §5.2.3): file-source streams with
processAllAvailable, batch/stream parity for the windowed aggregates, and
foreachBatch idempotency under batch replay."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from news_categorization_big_data_spark.streaming.topology import (
    classify_stream,
    parse_messages,
    read_message_stream,
    serialize_messages,
    write_idempotent_parquet,
    write_kafka_batch,
    write_routed_fan_out,
)
from tests.conftest import exchange_counts, physical_plan

CATEGORIES = ["technology", "political", "arts", "sports", "social", "environmental", "health"]


def _write_jsonl(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")


def _payload(content, category, ts):
    return {"value": json.dumps({"content": content, "category": category, "event_ts": ts})}


def test_stream_parse_classify_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(
        src,
        [
            _payload("solar farms expand", "Environmental", "2024-01-01 10:00:00"),
            _payload("cup final tonight", "sports", "2024-01-01 10:01:00"),
            _payload("", "sports", "2024-01-01 10:02:00"),  # blank → fallback
            _payload("mystery piece", "astrology", "2024-01-01 10:03:00"),  # bad cat → fallback
            {"value": "not json at all"},  # unparseable → null struct → fallback
        ],
    )
    raw = read_message_stream(spark, source="json-files", path=src)
    classified = classify_stream(parse_messages(raw), CATEGORIES)
    query = write_idempotent_parquet(classified, out, ckpt)
    query.processAllAvailable()
    query.stop()

    result = spark.read.parquet(out).collect()
    assert len(result) == 5
    by_cat = {}
    for row in result:
        by_cat.setdefault(row.category, []).append(row)
    # case-normalized valid categories
    assert len(by_cat["environmental"]) == 1 and by_cat["environmental"][0].confidence == 1.0
    assert len(by_cat["sports"]) == 1  # the valid sports row
    # blank content, invalid category, unparseable line → 3 typed fallbacks
    unknowns = by_cat["unknown"]
    assert len(unknowns) == 3
    assert all(u.confidence == 0.0 for u in unknowns)


def test_batch_stream_parity_tumbling(spark, tmp_path):
    """The same window() aggregation over a stream of events equals the
    batch answer on the same rows — the engine's core streaming claim."""
    rows = [
        {"ts": "2024-01-01 00:01:00", "event_type": "a"},
        {"ts": "2024-01-01 00:04:00", "event_type": "a"},
        {"ts": "2024-01-01 00:11:00", "event_type": "b"},
        {"ts": "2024-01-01 00:19:59", "event_type": "a"},
        {"ts": "2024-01-01 00:20:00", "event_type": "a"},
    ]
    src = str(tmp_path / "events")
    _write_jsonl(src, rows)

    def agg(df):
        typed = df.select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
        return (
            typed.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        )

    batch = agg(spark.read.schema("ts string, event_type string").json(src))
    stream = agg(spark.readStream.schema("ts string, event_type string").json(src))
    out = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch_rows = sorted(map(str, batch.collect()))
    stream_rows = sorted(
        map(str, spark.read.parquet(out).select("ws", "event_type", "cnt").collect())
    )
    assert batch_rows == stream_rows


def test_batch_stream_parity_session_window(spark, tmp_path):
    """session_window over a stream equals the batch answer on the same
    rows — the gaps-and-islands state machine, not just tumbling."""
    rows = [
        {"ts": "2024-01-01 00:01:00", "user": "u1"},
        {"ts": "2024-01-01 00:03:00", "user": "u1"},  # same 5m session
        {"ts": "2024-01-01 00:15:00", "user": "u1"},  # gap > 5m → new session
        {"ts": "2024-01-01 00:02:00", "user": "u2"},
    ]
    src = str(tmp_path / "sess_events")
    _write_jsonl(src, rows)

    def agg(df):
        typed = df.select(F.col("ts").cast("timestamp").alias("ts"), "user")
        return (
            typed.withWatermark("ts", "1 minute")
            .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "user", "cnt")
        )

    batch = agg(spark.read.schema("ts string, user string").json(src))
    stream = agg(spark.readStream.schema("ts string, user string").json(src))
    out = str(tmp_path / "sess_out")
    latest = {}

    # Session-window streaming aggregation supports complete/append only
    # (update is rejected); complete re-emits the full state per batch,
    # so the LAST batch is the comparable answer.
    def write_batch(df, batch_id):
        latest["rows"] = df.select("ws", "user", "cnt").collect()

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch_rows = sorted(map(str, batch.collect()))
    stream_rows = sorted(map(str, latest["rows"]))
    assert batch_rows == stream_rows
    assert len(batch_rows) == 3  # two u1 sessions + one u2 session
    del out


def test_kafka_batch_sink_serialization_roundtrip(spark, tmp_path):
    """The Kafka batch sink's serialize projection (to_json over the
    SHARED payload schema ≙ news_summarization_batch.py:114-119) must
    round-trip through parse_messages — the writer/reader schema match
    the reference got wrong (quirk §2.11.1: col1/col2 vs
    content/category meant every digest was dropped)."""
    rows = [
        ("solar farms expand", "environmental", "2024-01-01 10:00:00"),
        ("cup final tonight", "sports", "2024-01-01 10:01:00"),
    ]
    df = spark.createDataFrame(rows, "content string, category string, event_ts string").select(
        "content", "category", F.col("event_ts").cast("timestamp").alias("event_ts")
    )
    out = str(tmp_path / "kafka_fallback")
    write_kafka_batch(df, fallback_path=out)  # brokerless: same projection, file sink

    written = spark.read.json(out)
    assert set(written.columns) == {"key", "value"}
    # the consumer-side parse (one shared schema) recovers every field
    parsed = parse_messages(written).orderBy("event_ts").collect()
    assert [(r.content, r.category) for r in parsed] == [(c, k) for c, k, _ in rows]
    assert all(r.event_ts is not None for r in parsed)
    # key = category → per-category partition ordering in the topic
    keys = {r.key for r in written.collect()}
    assert keys == {"environmental", "sports"}


def test_serialize_messages_is_pure_projection(spark):
    """serialize_messages must add no shuffle/action — a single narrow
    projection (the sink wrapper is IO, not compute)."""
    df = spark.createDataFrame(
        [("x", "sports", "2024-01-01 00:00:00")],
        "content string, category string, event_ts string",
    ).select("content", "category", F.col("event_ts").cast("timestamp").alias("event_ts"))
    plan = physical_plan(serialize_messages(df))
    assert exchange_counts(plan) == {}, plan


def test_routed_fan_out(spark, tmp_path):
    """Category-routed foreachBatch delivery ≙
    summary_news_to_telegram.py:44-96: valid categories land under their
    own route, unknown/invalid under route=unknown; replay of a batch id
    does not duplicate."""
    src = str(tmp_path / "routed_src")
    out = str(tmp_path / "routed_out")
    ckpt = str(tmp_path / "routed_ckpt")
    _write_jsonl(
        src,
        [
            _payload("solar", "Environmental", "2024-01-01 10:00:00"),
            _payload("cup", "sports", "2024-01-01 10:01:00"),
            _payload("stars", "astrology", "2024-01-01 10:02:00"),
        ],
    )
    raw = read_message_stream(spark, source="json-files", path=src)
    q = write_routed_fan_out(parse_messages(raw), out, ckpt, CATEGORIES)
    q.processAllAvailable()
    q.stop()

    routed = spark.read.parquet(out)
    by_route = {r.route: r.cnt for r in routed.groupBy("route").agg(F.count("*").alias("cnt")).collect()}
    assert by_route == {"environmental": 1, "sports": 1, "unknown": 1}

    # Replay: a FRESH checkpoint reprocesses batch 0 over the same
    # source into the same out_dir. Dynamic partition overwrite must
    # rewrite each (route, batch_id) partition in place — one stray
    # static-overwrite would truncate the sibling routes, one append
    # would double every count.
    q2 = write_routed_fan_out(
        parse_messages(read_message_stream(spark, source="json-files", path=src)),
        out,
        str(tmp_path / "routed_ckpt2"),
        CATEGORIES,
    )
    q2.processAllAvailable()
    q2.stop()
    replayed = {
        r.route: r.cnt
        for r in spark.read.parquet(out).groupBy("route").agg(F.count("*").alias("cnt")).collect()
    }
    assert replayed == by_route


def test_stateful_category_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState carries state ACROSS micro-batches: totals
    after a second batch include the first batch's rows (the property a
    stateless per-batch agg cannot have)."""
    import json as _json
    import os as _os

    from news_categorization_big_data_spark.streaming.topology import track_category_totals

    src = str(tmp_path / "state_src")
    out = str(tmp_path / "state_out")
    ckpt = str(tmp_path / "state_ckpt")
    _write_jsonl(src, [_payload("abcde", "sports", "2024-01-01 10:00:00")])

    raw = read_message_stream(spark, source="json-files", path=src)
    totals = track_category_totals(parse_messages(raw))

    seen = []

    def capture(batch_df, batch_id):
        seen.append({(r.category): (r.n_total, r.chars_total) for r in batch_df.collect()})

    q = (
        totals.writeStream.foreachBatch(capture)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # second micro-batch: one more sports row + a new category
    with open(_os.path.join(src, "part-1.json"), "w") as f:
        f.write(_json.dumps(_payload("xyz", "sports", "2024-01-01 10:05:00")) + "\n")
        f.write(_json.dumps(_payload("pq", "arts", "2024-01-01 10:06:00")) + "\n")
    q.processAllAvailable()
    q.stop()

    merged = {}
    for batch in seen:
        merged.update(batch)
    # 5 chars from batch 1 + 3 from batch 2, count 2 — cumulative, not per-batch
    assert merged["sports"] == (2, 8)
    assert merged["arts"] == (1, 2)
    del out  # (routed dirs unused — state lives in the checkpoint)


def test_console_stream_sink_runs(spark, tmp_path):
    """Console sink ≙ news_categorization_streaming.py:114-120 — smoke:
    the query starts from a stable checkpoint and drains the source."""
    from news_categorization_big_data_spark.streaming.topology import write_console_stream

    src = str(tmp_path / "console_src")
    _write_jsonl(src, [_payload("hello", "sports", "2024-01-01 10:00:00")])
    raw = read_message_stream(spark, source="json-files", path=src)
    q = write_console_stream(parse_messages(raw), str(tmp_path / "console_ckpt"))
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    assert progress is not None and progress["sink"]["description"].startswith("org.apache.spark.sql.execution.streaming.ConsoleTable")


def test_restart_from_stable_checkpoint_no_reprocess(spark, tmp_path):
    """Stopping a query and starting a NEW one on the same checkpoint
    must resume from committed offsets: old rows are not reprocessed,
    new rows are picked up (the fix for the reference's fresh-
    timestamped-checkpoint reset, quirk SURVEY §2.11.3)."""
    import json as _json
    import os as _os

    src = str(tmp_path / "restart_src")
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    _write_jsonl(src, [_payload("first", "sports", "2024-01-01 10:00:00")])

    def run_once():
        raw = read_message_stream(spark, source="json-files", path=src)
        q = write_idempotent_parquet(
            classify_stream(parse_messages(raw), CATEGORIES), out, ckpt
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    first_batches = {r.batch_id for r in spark.read.parquet(out).select("batch_id").collect()}

    with open(_os.path.join(src, "part-1.json"), "w") as f:
        f.write(_json.dumps(_payload("second", "arts", "2024-01-01 10:05:00")) + "\n")
    run_once()  # brand-new query object, same checkpoint

    rows = spark.read.parquet(out).collect()
    contents = sorted(r.content for r in rows)
    assert contents == ["first", "second"]  # no duplicate of "first"
    # the second run wrote a LATER batch id — it resumed, not restarted
    new_batches = {r.batch_id for r in spark.read.parquet(out).select("batch_id").collect()}
    assert max(new_batches) > max(first_batches)


def test_kill_midstream_replays_batch_exactly_once(spark, tmp_path):
    """The reference's full topology under failure injection (VERDICT r7
    item 5): source → from_json → native pre-filter → idempotent
    foreachBatch sink. The sink WRITE lands, then the query is killed
    BEFORE the checkpoint commit — the window where the reference's
    per-row Mongo insert inside the UDF double-wrote on retry (quirk
    §2.11.3-4). On restart from the stable checkpoint Spark REPLAYS the
    same batch id; the batch-id-keyed overwrite must make the sink
    contents exactly-once. An append-mode sink fails this test."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from news_categorization_big_data_spark.streaming.topology import (
        idempotent_batch_writer,
    )

    src = str(tmp_path / "kill_src")
    out = str(tmp_path / "kill_out")
    ckpt = str(tmp_path / "kill_ckpt")
    crash_marker = tmp_path / "crashed_once"
    _write_jsonl(
        src,
        [
            _payload("quake near coast", "environmental", "2024-01-01 09:00:00"),
            _payload("match postponed", "sports", "2024-01-01 09:01:00"),
        ],
    )

    real_write = idempotent_batch_writer(out)  # the PRODUCTION sink write

    def crash_after_write(batch_df, batch_id):
        real_write(batch_df, batch_id)
        if not crash_marker.exists():
            crash_marker.touch()
            raise RuntimeError("injected: sink wrote, commit never happened")

    def topology():
        raw = read_message_stream(spark, source="json-files", path=src)
        return classify_stream(parse_messages(raw), CATEGORIES)

    q = (
        topology()
        .writeStream.foreachBatch(crash_after_write)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    except StreamingQueryException:
        pass  # the injected mid-stream death
    finally:
        q.stop()
    assert crash_marker.exists(), "failure was never injected"
    # the sink write DID land before the kill — this is the dangerous state
    first = spark.read.parquet(out)
    assert first.count() == 2
    crashed_ids = {r.batch_id for r in first.select("batch_id").distinct().collect()}

    # restart the SAME topology on the SAME checkpoint with the real sink
    q2 = write_idempotent_parquet(topology(), out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    rows = spark.read.parquet(out).collect()
    # exactly-once: the replayed batch overwrote its own directory
    assert sorted(r.content for r in rows) == ["match postponed", "quake near coast"]
    # and it really was a REPLAY of the uncommitted batch id, not a new one
    replay_ids = {r.batch_id for r in rows}
    assert replay_ids == crashed_ids


def test_foreachbatch_idempotent_replay(spark, tmp_path):
    """Re-running a batch id must not duplicate rows (overwrite-by-batch
    directory layout — the fix for quirk SURVEY.md §2.11.4)."""
    out = str(tmp_path / "idem")
    df = spark.range(5).withColumnRenamed("id", "v")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    write_batch(df, 7)
    write_batch(df, 7)  # replay of the same micro-batch
    assert spark.read.parquet(out).count() == 5


def test_stream_stream_interval_join_parity(spark, tmp_path):
    """Stream-stream event-time interval join equals the batch theta join
    on the same rows — and the join carries watermarks on both sides so
    its state is bounded."""
    from news_categorization_big_data_spark.streaming.topology import (
        join_streams_interval,
    )

    left_rows = [
        _payload("l-sports-early", "sports", "2024-01-01 10:00:00"),
        _payload("l-sports-late", "sports", "2024-01-01 11:00:00"),
        _payload("l-arts", "arts", "2024-01-01 10:00:00"),
    ]
    right_rows = [
        _payload("r-sports-in", "sports", "2024-01-01 10:05:00"),   # joins early (5m)
        _payload("r-sports-out", "sports", "2024-01-01 10:30:00"),  # 30m: outside 10m
        _payload("r-arts-exact", "arts", "2024-01-01 10:10:00"),    # boundary: exactly 10m
        _payload("r-political", "political", "2024-01-01 10:00:00"),
    ]
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    _write_jsonl(lsrc, left_rows)
    _write_jsonl(rsrc, right_rows)

    def build(streaming: bool):
        if streaming:
            l = parse_messages(read_message_stream(spark, source="json-files", path=lsrc))
            r = parse_messages(read_message_stream(spark, source="json-files", path=rsrc))
        else:
            l = parse_messages(spark.read.schema("value string").json(lsrc))
            r = parse_messages(spark.read.schema("value string").json(rsrc))
        return join_streams_interval(l, r, within_seconds=600)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    query = (
        build(streaming=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    query.processAllAvailable()
    query.stop()

    got = {(r.content_l, r.content_r) for r in spark.read.parquet(out).collect()}
    want = {(r.content_l, r.content_r) for r in build(streaming=False).collect()}
    assert got == want
    assert want == {
        ("l-sports-early", "r-sports-in"),
        ("l-arts", "r-arts-exact"),
    }


def test_watermark_drops_late_data_live(spark, tmp_path):
    """LIVE watermark semantics (the batch analog q_stream_watermark
    can't show dropping): an append-mode windowed count with a 10-minute
    watermark finalizes a window once the watermark passes its end, and
    an event arriving after that is DROPPED, not double-counted."""
    import os as _os

    src = str(tmp_path / "wm_src")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")
    _os.makedirs(src, exist_ok=True)

    def write_file(name, rows):
        with open(_os.path.join(src, name), "w") as f:
            for ts in rows:
                f.write(json.dumps({"ts": ts}) + "\n")

    # Batch 1: window [00:00, 00:10) gets 2 events; the 01:00 event
    # advances the watermark to 00:50, far past that window's end.
    write_file("b1.json", ["2024-01-01 00:01:00", "2024-01-01 00:02:00", "2024-01-01 01:00:00"])
    stream = (
        spark.readStream.schema("ts string")
        .json(src)
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # Batch 2: a straggler for the already-finalized [00:00, 00:10)
    # window — older than the watermark, must be dropped.
    write_file("b2.json", ["2024-01-01 00:03:00"])
    q.processAllAvailable()
    # Batch 3: close out the remaining window so every on-time event is
    # emitted before we stop.
    write_file("b3.json", ["2024-01-01 02:00:00"])
    q.processAllAvailable()
    q.stop()

    got = {str(r["start"]): r["n"] for r in spark.read.parquet(out).collect()}
    # The straggler did NOT bump the finalized window back to 3.
    assert got.get("2024-01-01 00:00:00") == 2, got
    assert got.get("2024-01-01 01:00:00") == 1, got


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer interval join: unmatched left rows surface with NULL
    right columns once the watermark passes their interval — and the
    streaming answer equals the batch left-outer theta join."""
    from news_categorization_big_data_spark.streaming.topology import (
        join_streams_interval,
    )

    left_rows = [
        _payload("l-match", "sports", "2024-01-01 10:00:00"),
        _payload("l-miss", "arts", "2024-01-01 10:00:00"),
        # far-future row pushes the watermark past the earlier intervals
        _payload("l-flush", "sports", "2024-01-01 13:00:00"),
    ]
    right_rows = [
        _payload("r-in", "sports", "2024-01-01 10:05:00"),
        _payload("r-flush", "sports", "2024-01-01 13:00:00"),
    ]
    lsrc, rsrc = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    _write_jsonl(lsrc, left_rows)
    _write_jsonl(rsrc, right_rows)

    def build(streaming: bool):
        if streaming:
            l = parse_messages(read_message_stream(spark, source="json-files", path=lsrc))
            r = parse_messages(read_message_stream(spark, source="json-files", path=rsrc))
        else:
            l = parse_messages(spark.read.schema("value string").json(lsrc))
            r = parse_messages(spark.read.schema("value string").json(rsrc))
        return join_streams_interval(l, r, within_seconds=600, how="left_outer")

    out, ckpt = str(tmp_path / "lo_out"), str(tmp_path / "lo_ckpt")
    q = (
        build(streaming=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {(r.content_l, r.content_r) for r in spark.read.parquet(out).collect()}
    want = {(r.content_l, r.content_r) for r in build(streaming=False).collect()}
    # the batch side is ground truth; the unmatched arts row must be there
    assert ("l-miss", None) in want
    # streaming may still hold not-yet-flushable rows in state at stop
    # time, but everything it DID emit must agree with batch, and the
    # matched pair plus the watermark-flushed miss must have surfaced
    assert got <= want
    assert ("l-match", "r-in") in got
    assert ("l-miss", None) in got


def test_interval_join_rejects_unknown_how(spark):
    import pytest as _pytest

    from news_categorization_big_data_spark.streaming.topology import (
        join_streams_interval,
    )

    df = spark.range(1).select(
        F.lit("a").alias("category"),
        F.current_timestamp().alias("event_ts"),
    )
    with _pytest.raises(ValueError):
        join_streams_interval(df, df, how="full_outer")


def test_stream_static_enrichment_parity(spark, tmp_path):
    """Stream-static broadcast enrichment: the streaming result equals
    the batch join, unmatched stream rows survive (left_outer), and the
    query is stateless — no watermark required."""
    from news_categorization_big_data_spark.streaming.topology import (
        enrich_with_static,
    )

    rows = [
        _payload("m-sports", "sports", "2024-01-01 10:00:00"),
        _payload("m-arts", "arts", "2024-01-01 10:01:00"),
        _payload("m-unmapped", "mystery", "2024-01-01 10:02:00"),
    ]
    src = str(tmp_path / "msgs")
    _write_jsonl(src, rows)
    dim = spark.createDataFrame(
        [("sports", "desk-1"), ("arts", "desk-2"), ("political", "desk-3")],
        "category string, desk string",
    )

    def build(streaming: bool):
        if streaming:
            s = parse_messages(read_message_stream(spark, source="json-files", path=src))
        else:
            s = parse_messages(spark.read.schema("value string").json(src))
        return enrich_with_static(s, dim, on="category")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        build(streaming=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {(r.content, r.desk) for r in spark.read.parquet(out).collect()}
    want = {(r.content, r.desk) for r in build(streaming=False).collect()}
    assert got == want
    assert ("m-unmapped", None) in got  # left_outer keeps unmatched stream rows


def test_enrich_with_static_rejects_stream_dropping_join(spark):
    import pytest as _pytest

    from news_categorization_big_data_spark.streaming.topology import (
        enrich_with_static,
    )

    dim = spark.createDataFrame([("a", 1)], "category string, x int")
    with _pytest.raises(ValueError):
        enrich_with_static(dim, dim, on="category", how="right_outer")


def test_batch_stream_parity_ohlc(spark, tmp_path):
    """The q_resample_ohlc aggregate (min_by/max_by on a composite key)
    is streaming-legal: the same windowless groupBy over a stream equals
    the batch answer — OHLC bars maintainable incrementally from a live
    event feed."""
    rows = [
        {"ts": "2024-01-01 00:00:05", "event_id": 1, "event_type": "a", "value": 10.0},
        {"ts": "2024-01-01 00:10:00", "event_id": 2, "event_type": "a", "value": 30.0},
        {"ts": "2024-01-01 00:59:59", "event_id": 3, "event_type": "a", "value": 20.0},
        {"ts": "2024-01-01 01:00:00", "event_id": 4, "event_type": "a", "value": 99.0},
        {"ts": "2024-01-01 00:30:00", "event_id": 5, "event_type": "b", "value": 7.0},
        # same-timestamp tie inside one bucket: event_id must break it
        {"ts": "2024-01-01 00:00:05", "event_id": 0, "event_type": "a", "value": 11.0},
    ]
    src = str(tmp_path / "ohlc_events")
    _write_jsonl(src, rows)
    schema = "ts string, event_id long, event_type string, value double"

    def bars(df):
        typed = df.select(
            F.col("ts").cast("timestamp").alias("ts"), "event_id", "event_type", "value"
        )
        key = F.concat(
            F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        )
        return typed.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        ).agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_events"),
        )

    batch = bars(spark.read.schema(schema).json(src))
    stream = bars(spark.readStream.schema(schema).json(src))
    out = str(tmp_path / "ohlc_out")
    ckpt = str(tmp_path / "ohlc_ckpt")

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    cols = ["event_type", "bucket", "open", "high", "low", "close", "n_events"]
    batch_rows = sorted(map(str, batch.select(cols).collect()))
    stream_rows = sorted(map(str, spark.read.parquet(out).select(cols).collect()))
    assert batch_rows == stream_rows
    # the tie at 00:00:05 resolves by event_id: open = value of id 0
    a_bar = next(r for r in batch.collect() if r.event_type == "a" and r.bucket.hour == 0)
    assert a_bar.open == 11.0 and a_bar.close == 20.0


def test_docgen_stream_matches_batch(spark, tmp_path):
    """The custom Python Data Source's STREAMING reader must deliver
    exactly the batch reader's rows — the stream-equals-batch contract
    that makes the connector's exactly-once story checkable: rows are a
    pure function of the offset range, so any replayed micro-batch is
    bit-identical."""
    from news_categorization_big_data_spark.sources.docgen import (
        DocGenDataSource,
    )

    spark.dataSource.register(DocGenDataSource)
    opts = {"rows": "1000", "shards": "8", "rowsPerBatch": "130"}
    stream = spark.readStream.format("docgen").options(**opts).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("docgen_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM docgen_stream_sink").collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.format("docgen").options(**opts).load().collect()
    )
    assert len(got) == 1000
    assert got == want


def test_docgen_stream_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across a restart: run the docgen stream briefly,
    stop it mid-corpus, restart against the SAME checkpoint, and drain.
    The union of both runs must be exactly the 1000 distinct batch rows
    — no gaps (offsets resumed, not reset) and no duplicates (committed
    micro-batches not re-emitted into the sink). This is the recovery
    contract readStream sources must honor and the reason
    readBetweenOffsets exists."""
    import time as _time

    from news_categorization_big_data_spark.sources.docgen import (
        DocGenDataSource,
    )

    spark.dataSource.register(DocGenDataSource)
    opts = {"rows": "1000", "shards": "8", "rowsPerBatch": "100"}
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("docgen")
            .options(**opts)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        # wait for at least one committed micro-batch, then kill early
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if any(p.get("numInputRows", 0) > 0 for p in q.recentProgress):
                break
            _time.sleep(0.2)
    finally:
        q.stop()

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(out).collect()
    ids = sorted(r["id"] for r in rows)
    assert len(rows) == 1000, f"dupes or gaps: {len(rows)} rows"
    assert ids == list(range(1000))


def test_drop_duplicates_within_watermark_live(spark, tmp_path):
    """The REAL dropDuplicatesWithinWatermark API (not the batch
    analog): duplicate event ids arriving within the watermark window —
    across files and batches — must be emitted exactly once, with
    dedup state bounded by the watermark instead of growing forever
    (the difference from plain streaming dropDuplicates)."""
    src = str(tmp_path / "dd_src")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    os.makedirs(src, exist_ok=True)

    def ev(eid, ts):
        return {"event_id": eid, "ts": ts}

    with open(os.path.join(src, "f0.json"), "w") as f:
        for row in [
            ev(1, "2024-01-01 10:00:00"),
            ev(1, "2024-01-01 10:00:00"),  # in-batch duplicate
            ev(2, "2024-01-01 10:01:00"),
        ]:
            f.write(json.dumps(row) + "\n")

    stream = (
        spark.readStream.schema("event_id long, ts string")
        .json(src)
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()

    # second file: a cross-batch duplicate within the watermark plus a
    # fresh id — only the fresh id may appear again
    with open(os.path.join(src, "f1.json"), "w") as f:
        for row in [
            ev(1, "2024-01-01 10:00:30"),  # duplicate, within watermark
            ev(3, "2024-01-01 10:02:00"),
        ]:
            f.write(json.dumps(row) + "\n")
    q.processAllAvailable()
    q.stop()

    rows = spark.read.parquet(out).collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3], ids


def test_stream_trending_topk_in_foreachbatch(spark, tmp_path):
    """The q_stream_trending pattern LIVE: a watermarked windowed count
    stream whose foreachBatch ranks the closed windows' counts and
    keeps top-3 per window — rank-over-updating-state is not monotone,
    so the leaderboard runs per batch over the emitted window rows
    (the exact decomposition the registered query's docstring
    promises). Final leaderboard equals the batch analog's."""
    from pyspark.sql.window import Window as W

    rows = []
    for m, t in [
        (1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c"), (7, "d"),
        (61, "b"), (62, "b"), (63, "c"), (64, "c"), (65, "c"), (66, "a"),
    ]:
        rows.append({"ts": f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00", "event_type": t})
    src = str(tmp_path / "trend_events")
    _write_jsonl(src, rows)

    def counts(df):
        typed = df.select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
        return (
            typed.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        )

    out = str(tmp_path / "trend_out")
    ckpt = str(tmp_path / "trend_ckpt")

    def rank_batch(df, batch_id):
        rk = W.partitionBy("ws").orderBy(F.col("cnt").desc(), "event_type")
        (
            df.select("ws", "event_type", "cnt", F.row_number().over(rk).alias("rnk"))
            .where(F.col("rnk") <= 3)
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={batch_id}")
        )

    stream = counts(
        spark.readStream.schema("ts string, event_type string").json(src)
    )
    q = (
        stream.writeStream.foreachBatch(rank_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last-write-wins per window across batches = the final leaderboard
    live = spark.read.parquet(out)
    last = live.withColumn(
        "_m", F.row_number().over(
            W.partitionBy("ws", "rnk").orderBy(F.col("batch_id").desc())
        )
    ).where(F.col("_m") == 1)
    live_rows = sorted(
        map(str, last.select("ws", "event_type", "cnt", "rnk").collect())
    )

    batch = counts(spark.read.schema("ts string, event_type string").json(src))
    rk = W.partitionBy("ws").orderBy(F.col("cnt").desc(), "event_type")
    batch_rows = sorted(
        map(
            str,
            batch.select(
                "ws", "event_type", "cnt", F.row_number().over(rk).alias("rnk")
            )
            .where(F.col("rnk") <= 3)
            .collect(),
        )
    )
    assert live_rows == batch_rows


def test_stream_topology_with_mllib_model_stage(spark, tmp_path):
    """The reference topology end-to-end WITH the trained model stage in
    the loop (round-9 VERDICT item 5): file-source → from_json
    (parse_messages) → native blank pre-filter → operators/classify.py
    MLlib transform → idempotent foreachBatch sink. The keyword-path
    variant is test_stream_parse_classify_sink; here the
    batch-broadcast PipelineModel scores the STREAM (MLlib transforms
    are per-row column expressions, streaming-safe), mirroring
    news_categorization_streaming.py:45-120 with the zero-shot model
    swapped for the engine's pipeline. Parity: the per-category digest
    (the q_pipeline_digest composition — counts + doc-sorted content
    prefix bullets) built from the SINK must equal the same digest
    built by the pure-batch path over the same messages with the same
    model."""
    from news_categorization_big_data_spark.operators import classify as clf
    from news_categorization_big_data_spark.sources.tables import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .where(F.col("text") != "")
        .select("doc_id", "text", "lang")
        .limit(120)
    )
    model = clf.fit(docs, text_col="text", label_col="lang")

    # The documents become the message feed (content = text); a couple of
    # poison messages exercise the pre-filter fallback path in-stream.
    msgs = [
        _payload(r["text"], r["lang"], "2024-01-01 10:00:00")
        for r in docs.select("text", "lang").collect()
    ]
    msgs.append(_payload("", "sports", "2024-01-01 10:01:00"))  # blank → fallback
    msgs.append({"value": "not json"})  # unparseable → null → fallback
    src = str(tmp_path / "model_src")
    out = str(tmp_path / "model_out")
    ckpt = str(tmp_path / "model_ckpt")
    _write_jsonl(src, msgs)

    def model_stage(parsed):
        # content-keyed id: deterministic on both the batch and stream
        # paths (no zipWithIndex/monotonic id, which are partition-order
        # dependent). The fitted pipeline's tokenizer is bound to the
        # training column name, so content rides as `text` through the
        # model. classify() applies the native blank pre-filter and
        # unions the typed ('unknown', 0.0) fallback.
        keyed = parsed.select(
            F.xxhash64("content").alias("doc_id"), F.col("content").alias("text")
        )
        return clf.classify(model, keyed, id_col="doc_id", text_col="text").join(
            keyed.select("doc_id", F.col("text").alias("content")), "doc_id"
        )

    def digest(df):
        # the q_pipeline_digest composition: per-category item count +
        # doc-sorted bulleted content prefixes (bounded, sorted — never
        # an unbounded unordered collect_list).
        return sorted(
            map(
                tuple,
                df.groupBy("category")
                .agg(
                    F.count("*").alias("n_items"),
                    F.array_join(
                        F.array_sort(
                            F.collect_list(
                                F.concat(F.lit("- "), F.substring("content", 1, 24))
                            )
                        ),
                        "\n",
                    ).alias("content_digest"),
                    F.sum(F.round(F.col("confidence") * 1e6).cast("long")).alias(
                        "conf_micro"
                    ),
                )
                .collect(),
            )
        )

    # STREAM path: the four-stage topology.
    raw = read_message_stream(spark, source="json-files", path=src)
    classified = model_stage(parse_messages(raw))
    q = write_idempotent_parquet(classified, out, ckpt)
    q.processAllAvailable()
    q.stop()
    stream_digest = digest(spark.read.parquet(out).drop("batch_id"))

    # BATCH path: identical stages over the same files, no stream.
    batch_raw = spark.read.schema("value string").json(src)
    batch_digest = digest(model_stage(parse_messages(batch_raw)))

    assert stream_digest == batch_digest
    cats = {row[0] for row in stream_digest}
    assert "unknown" in cats  # both poison messages fell back
    assert len(cats) > 1  # the model actually assigned real categories


def test_reference_topology_e2e_kill_replay_digest_parity(spark, tmp_path):
    """The reference's FULL four-stage dataflow (SURVEY §0: ingest →
    classify → digest → route) as one live stream with a kill/replay in
    the middle (round-13 VERDICT item 6):

    1. INGEST — sf0.001 documents become the message feed (content =
       text; event_ts = base + doc_id seconds, the producer's monotone
       send time — the engine's deterministic analog of the reference's
       Mongo insertion-order ids, so arrival order ≙ doc_id order).
    2. CLASSIFY — parse_messages → classify_stream_model: the keyword
       scorer (the zero-shot stand-in) computes the category from the
       CONTENT inside the micro-batch, typed fallback preserved.
    3. The store is the idempotent foreachBatch parquet sink, and the
       first run is KILLED after the sink write but before the
       checkpoint commit (the reference's double-write window); the
       restart must replay exactly-once. Late files arrive between the
       runs, so the replay is followed by genuinely new batches.
    4. DIGEST — the reference's batch summarizer stage over the store
       (extractive_summarize + the q_pipeline_digest tail), asserted
       EQUAL to the registered q_pipeline_digest run on the original
       parquet — the cross-proof that streamed ingest+classify lost,
       duplicated, and mislabeled nothing.
    5. ROUTE — the digest fans out per category (partitionBy, the
       per-category-channel analog); every category routes exactly its
       digest row.
    """
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import Window

    from news_categorization_big_data_spark.operators.summarize import (
        extractive_summarize,
    )
    from news_categorization_big_data_spark.plans import REGISTRY
    from news_categorization_big_data_spark.plans.ml import (
        DIGEST_DATE,
        DIGEST_MAX_ITEMS,
    )
    from news_categorization_big_data_spark.sources.tables import load_table
    from news_categorization_big_data_spark.streaming.topology import (
        classify_stream_model,
        idempotent_batch_writer,
    )

    smoke_sf = "/root/testdata/sf0.001"
    base_ts = "2024-01-01 00:00:00"
    docs = (
        load_table(spark, smoke_sf, "documents")
        .where(F.col("text") != "")
        .select("doc_id", "text")
        .collect()
    )
    assert len(docs) > 100

    def payload(r):
        import datetime as _dt

        t = _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=int(r["doc_id"]))
        return _payload(r["text"], None, t.strftime("%Y-%m-%d %H:%M:%S"))

    src = str(tmp_path / "e2e_src")
    out = str(tmp_path / "e2e_out")
    ckpt = str(tmp_path / "e2e_ckpt")
    route_dir = str(tmp_path / "e2e_route")
    os.makedirs(src, exist_ok=True)
    half = len(docs) // 2
    with open(os.path.join(src, "wave-0.json"), "w") as f:
        for r in docs[:half]:
            f.write(json.dumps(payload(r)) + "\n")

    crash_marker = tmp_path / "e2e_crashed"
    real_write = idempotent_batch_writer(out)

    def crash_after_write(batch_df, batch_id):
        real_write(batch_df, batch_id)
        if not crash_marker.exists():
            crash_marker.touch()
            raise RuntimeError("injected: sink wrote, commit never happened")

    def topology():
        raw = read_message_stream(spark, source="json-files", path=src)
        return classify_stream_model(parse_messages(raw))

    q = (
        topology()
        .writeStream.foreachBatch(crash_after_write)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    except StreamingQueryException:
        pass  # injected mid-stream death, sink written, commit lost
    finally:
        q.stop()
    assert crash_marker.exists(), "failure was never injected"

    # late arrivals land between the runs: the restart must BOTH replay
    # the uncommitted batch and pick up the new files
    with open(os.path.join(src, "wave-1.json"), "w") as f:
        for r in docs[half:]:
            f.write(json.dumps(payload(r)) + "\n")

    q2 = write_idempotent_parquet(topology(), out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    store = spark.read.parquet(out)
    # exactly-once across the kill: every document exactly once
    assert store.count() == len(docs)
    assert store.select("event_ts").distinct().count() == len(docs)

    # DIGEST over the store — the reference's batch summarizer stage.
    # doc_id is recovered from the producer's monotone send time.
    docs2 = store.select(
        (
            F.unix_timestamp("event_ts")
            - F.unix_timestamp(F.lit(base_ts).cast("timestamp"))
        )
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("text"),
        "category",
    )
    summaries = extractive_summarize(
        docs2.select("doc_id", "text"), id_col="doc_id", text_col="text", top_k=2
    )
    items = summaries.join(docs2.select("doc_id", "category"), "doc_id").select(
        "doc_id", "category", "summary"
    )
    w = Window.partitionBy("category").orderBy("doc_id")
    top = items.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= DIGEST_MAX_ITEMS
    )
    digest = (
        top.groupBy("category")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "summary"))),
                    lambda x: x["summary"],
                ),
            ).alias("_body"),
            F.count("*").alias("n_items"),
        )
        .select(
            "category",
            F.concat("_body", F.lit("\nDate: " + DIGEST_DATE)).alias("content"),
            "n_items",
        )
    )
    got = {tuple(r) for r in digest.collect()}
    want = {
        tuple(r) for r in REGISTRY["q_pipeline_digest"].builder(spark, smoke_sf).collect()
    }
    assert got == want, "streamed digest diverged from batch q_pipeline_digest"

    # ROUTE: per-category fan-out of the digest (the per-channel analog)
    digest.write.partitionBy("category").mode("overwrite").parquet(route_dir)
    routed = spark.read.parquet(route_dir)
    assert {r.category for r in routed.select("category").distinct().collect()} == {
        r[0] for r in got
    }
    for cat, content, n_items in got:
        rows = routed.where(F.col("category") == cat).collect()
        assert len(rows) == 1 and rows[0].content == content
